package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALE BLOW-UP HARNESS — the measured answer to "would this still work
  * at N× the data", for the five bucketed operators whose 100 TB claims
  * otherwise rest on plan shape alone (dd3 MinHash banding, dd6 feature
  * blocking, dd15 simhash-bucketed edit distance, mm6 perceptual banding,
  * sim11 IVF multi-probe). The reference's own pitch was measured, at
  * 128–512 GB (`/root/reference/README.md:30,49-58`); this is the
  * equivalent discipline at harness scale.
  *
  * CORPUS BLOW-UP (untimed setup): factor-N variants of
  * documents/embeddings are synthesized as N stacked copies with shifted
  * ids, each copy's text passed through a copy-specific CHARACTER
  * BIJECTION (a rotation of a scrambled 26-cycle + 10-cycle). Properties
  * this buys, all load-bearing:
  *
  *   - copy 0 is the identity — the ×1 run is exactly the registered
  *     query on the original corpus;
  *   - WITHIN a copy, every similarity structure is preserved exactly
  *     (Jaccard/MinHash/edit distance are invariant under a character
  *     bijection; token and char lengths unchanged), so TRUE near-dup
  *     pairs replicate exactly N×. Found rows track N× within a small
  *     tolerance rather than exactly: each copy's hash VALUES differ, so
  *     hash-banded candidate recall (dd3's bands, dd15's simhash, mm6's
  *     dHash) re-rolls per copy around the same rate — while dd6's
  *     feature blocking (hash-free) replicates its rows exactly;
  *   - ACROSS copies, shingle/token/byte content is disjoint (scrambled
  *     bijections also de-correlate byte ORDER, so dHash signatures are
  *     independent) — no cross-copy true pairs for the set/edit metrics,
  *     which is what makes candidate growth attributable to the banding
  *     math instead of the fixture. (Two historical fixture defects are
  *     worth recording: rotations of one cycle repeated copy 0 exactly
  *     at ×32, and rotations from two DIFFERENT base cycles coincided
  *     on most of the alphabet — copies 1/28 were byte-level near-dups
  *     and mm6's r12-r13 "banded16sat" quadratic tail was exactly that
  *     artifact. The min-disagree shuffle maps + mm6's luminance-style
  *     byte dispersal fixed both; mm6 now pins the same banded16 model
  *     as dd15.)
  *
  * What the candidate counts should do — the BANDING MATH the spec bounds:
  *
  *   - dd3: band signatures are 4×60-bit minhashes — incidental
  *     collisions negligible, candidates ≈ N × base (LINEAR);
  *   - dd15/mm6: 16-bit simhash/dHash bands — candidates = N·true +
  *     ~C(n,2)/2^16-scaled incidental collisions (quadratic with a tiny
  *     constant: the fixed-band-width trade, visible in the table);
  *   - dd6: PPJoin prefix filtering under the corpus rarity order —
  *     candidates ≈ N × base with a per-copy re-roll (prefix CONTENTS
  *     depend on hash tie-breaks, which differ per copy; cross-copy
  *     hashes are disjoint so prefix joins never cross copies), while
  *     found rows replicate EXACTLY N× (recall at 0.6 is exact — the
  *     lemma, not a band rate). r12 measured the previous (lang,
  *     len_bucket) all-pairs blocking QUADRATIC (524k → 134.7M
  *     candidates at ×16); this model pins the fix;
  *   - sim11: probed cells hold a fixed FRACTION of the corpus —
  *     candidates ≈ N × base (linear), measured through the registered
  *     arm's own cell-selection plans (ivfMultiRecallFraction);
  *   - dd5: within-cell ALL-PAIRS at fixed cell count — candidates
  *     exactly Σ C(c·N, 2) ≈ N² × base, and found rows ~N² too (the
  *     embedding copies are semantic near-dups by fixture design).
  *     QUADRATIC BY SPEC: the honest exception the other rows exist to
  *     avoid, measured and capped at ×16 (see the Op comment for the
  *     100 TB posture — SemDeDup-style K ∝ corpus).
  *
  * Usage: `runMain graft.Scale [baseSfDir] [factors-csv] [ops-csv]`
  * (defaults sf0.1, 1,8,16,32, all ops; the ops filter is for A/B
  * iteration — committed scale.json comes from a full run). Writes
  * scale.json (and the blown-up corpora under /tmp/graft-scale-<sf>/xN/,
  * reused across runs).
  */
object Scale {

  // The copy bijections must be pairwise FAR, not merely distinct. The
  // r12-r13 scheme (rotations of two scrambled base cycles) guaranteed
  // all 51 maps distinct as functions, but two rotations drawn from
  // DIFFERENT base cycles can coincide on most of the alphabet —
  // measured at r14: copies 1 and 28 agreed on ~2/3 of the letters, so
  // those copies' texts were near-identical BYTE-wise and mm6's
  // (dispersed) dHash correctly flagged them as cross-copy perceptual
  // near-dups — a fixture artifact masquerading as operator saturation
  // (the old `banded16sat` tail). Seeded shuffles with a MIN-DISAGREE
  // rejection loop give what the fixture's "cross-copy disjoint"
  // contract actually needs: every pair of maps disagrees on
  // ≥ [[MinLetterDisagree]] of 26 letters (≥ [[MinDigitDisagree]] of 10
  // digits), so no two copies share enough letter assignments for
  // byte-level (mm6) or token-level (dd3/dd6) cross-copy similarity.
  /** The committed sweep's exact factor list — scale.json is only
    * written from a run matching it (see the artifact guard in main). */
  private[graft] val CommittedSweepFactors = Seq(1, 8, 16, 32, 64)

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"
  private val DigitsSrc = "0123456789"
  private[graft] val MinLetterDisagree = 20
  private[graft] val MinDigitDisagree = 7

  /** `count` permutations of `src`: index 0 is the IDENTITY (copy 0 runs
    * the registered query on the original corpus), the rest are
    * deterministic seeded Fisher-Yates shuffles accepted only when they
    * disagree with every previously accepted map (identity included) on
    * at least `minDiff` positions. Random permutations agree on ~1
    * position in expectation, so the rejection loop terminates fast. */
  private def distantShuffles(src: String, count: Int, minDiff: Int,
      seed: Long): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    val out = scala.collection.mutable.ArrayBuffer(src)
    while (out.length < count) {
      val cand = rnd.shuffle(src.toList).mkString
      val far = out.forall(prev =>
        prev.indices.count(i => prev(i) == cand(i)) <= src.length - minDiff)
      if (far) out += cand
    }
    out.toIndexedSeq
  }

  private lazy val letterMaps =
    distantShuffles(Alphabet, 65, MinLetterDisagree, seed = 0xA11CEL)
  private lazy val digitMaps =
    distantShuffles(DigitsSrc, 65, MinDigitDisagree, seed = 0xD161L)

  /** translate() source/target for copy k — k = 0 is the identity;
    * [[ScaleSpec]] pins all 65 letter AND digit maps pairwise distant
    * (min-disagree), bijective, with copy 0 the identity. */
  private[graft] def copyMapping(k: Int): (String, String) = {
    require(k <= 64, s"copy fixture supports factors up to 65, got copy $k")
    (Alphabet + DigitsSrc, letterMaps(k) + digitMaps(k))
  }

  /** Synthesize (once) the factor-`n` corpus under `outRoot/x$n` and
    * return that directory. Layout matches the testdata contract
    * (documents.parquet, embeddings.parquet), so every registered query
    * runs on it UNCHANGED via its `dir` parameter. */
  private[graft] def ensureBlowup(spark: SparkSession, baseDir: String,
      outRoot: String, n: Int): String = {
    val dir = s"$outRoot/x$n"
    // marker versioned with the fixture recipe: a recipe change must
    // regenerate corpora an earlier run cached under /tmp
    val done = java.nio.file.Paths.get(s"$dir/_READY_v5")
    if (!java.nio.file.Files.exists(done)) {
      val docs = Catalog.table(spark, baseDir, "documents")
      val stride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
      (0 until n).map { k =>
        val (src, dst) = copyMapping(k)
        docs.select((col("doc_id") + lit(k * stride)).as("doc_id"),
          (if (k == 0) col("text") else translate(col("text"), src, dst))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_.unionAll(_))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val embT = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val strideE = embT.agg(max(col("vec_id"))).head.getLong(0) + 1L
      (0 until n).map { k =>
        // deterministic hash-based jitter (±2.4% per component): copies
        // stay near their copy-0 original's cell structure without being
        // bit-identical; k = 0 is the identity
        val pert =
          if (k == 0) col("embedding")
          else transform(col("embedding"), (x, i) =>
            x + (pmod(col("vec_id") * 31 + i * 7 + lit(k * 13), lit(17))
              .cast("float") - lit(8.0f)) * lit(0.003f))
        embT.select((col("vec_id") + lit(k * strideE)).as("vec_id"),
          pert.cast("array<float>").as("embedding"), col("label"))
      }.reduce(_.unionAll(_))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      java.nio.file.Files.createFile(done): Unit
    }
    dir
  }

  /** Lands (once) the factor-n TIME-EXTENDED events feed under
    * `outRoot/x$n/events_feed`: n single-FILE copies of the base events
    * table, copy k shifted k eras along the TIME axis (era = base span +
    * 2 h — beyond the 1 h watermark delay + 30 min join window, so eras
    * can never join) with disjoint user/event ids. File names and mtimes
    * ascend with k so the file-stream source replays eras IN ORDER under
    * `maxFilesPerTrigger=1` — the property the s9_join_state row's
    * watermark-eviction contract rides on (a same-mtime tie would let the
    * source pick an arbitrary order and break the era sequence). Unlike
    * the document bijections (which multiply data at one instant), this
    * is the OTHER blow-up axis: a stream running N× LONGER — exactly the
    * axis against which join state must stay bounded. */
  private[graft] def ensureEventsFeed(spark: SparkSession, baseDir: String,
      outRoot: String, n: Int): String = {
    val dir = s"$outRoot/x$n/events_feed"
    val done = java.nio.file.Paths.get(s"$outRoot/x$n/_READY_EVFEED_v1")
    if (!java.nio.file.Files.exists(done)) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val ev = Catalog.table(spark, baseDir, "events")
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        max(col("user_id")), max(col("event_id"))).head
      val eraUs = b.getLong(1) - b.getLong(0) + 2L * 3600 * 1000000L
      val uStride = b.getLong(2) + 1L
      val eStride = b.getLong(3) + 1L
      val dirP = Paths.get(dir)
      // a killed land leaves a partial layout with NO marker: clear it so
      // the re-land starts clean (loud rebuild, never a stale-green feed)
      if (Files.exists(dirP)) {
        Files.walk(dirP).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      Files.createDirectories(dirP): Unit
      val tmp = s"$outRoot/x$n/_evfeed_tmp"
      (0 until n).foreach { k =>
        ev.select(
          (col("event_id") + lit(k * eStride)).as("event_id"),
          timestamp_micros(unix_micros(col("ts")) + lit(k * eraUs)).as("ts"),
          (col("user_id") + lit(k * uStride)).as("user_id"),
          col("event_type"), col("value"), col("props"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).filter(p =>
          p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow()
        val dst = dirP.resolve(f"ev-$k%03d.parquet")
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING): Unit
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
          .fromMillis(1700000000000L + k * 60000L)): Unit
      }
      val tmpP = Paths.get(tmp)
      if (Files.exists(tmpP)) {
        Files.walk(tmpP).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      Files.createFile(done): Unit
    }
    dir
  }

  /** Tables whose size scales WITH the corpus — a broadcast whose build
    * subtree reaches one of these unbounded is the audit's defect class.
    * nation/region are deliberately absent: 25/5 rows by schema at every
    * scale factor (TPC-H holds them constant), so broadcasting them is
    * the permanently-correct plan. customer/part/supplier DO scale in
    * TPC-H (linear in SF) — at 100 TB customer is billions of rows and
    * any unconditional broadcast of it is wrong. */
  private[graft] val CorpusScaledTables = Seq(
    "documents", "embeddings", "lineitem", "orders", "events",
    "customer", "part", "supplier")

  /** Relational blow-up for the corpus-broadcast audit (the r15 verdict's
    * blind spot: 68 of 194 queries were "unplannable" because the xN dirs
    * held only documents/embeddings, so the whole q/x relational family
    * was never planned at realistic-at-scale file sizes). Row-stacking
    * with per-copy key shifts: copy k of orders references copy k of
    * customer (strides shared per key family), so join cardinalities per
    * copy match the base exactly and the audit's plans see honest STATS.
    * Values other than keys repeat verbatim — the audit needs sizes, not
    * semantic novelty, and no text-similarity op runs on these tables.
    *
    * part and supplier get EXTRA unreferenced copies (×2 / ×16): their
    * base files are so small (176 KB / 24 KB) that at ×64 they'd still
    * sit under the 10 MB broadcast threshold and every hint-free dim join
    * would legitimately broadcast — pushing them past the threshold makes
    * the audit adjudicate the real question (does the plan ADAPT when the
    * dim outgrows broadcastability?) instead of rubber-stamping
    * small-input choices. Extra copies carry keys no fact row references;
    * joins simply never match them, which leaves per-copy join outputs
    * identical while the scan stats grow. */
  private[graft] def ensureRelationalBlowup(spark: SparkSession,
      baseDir: String, outRoot: String, n: Int): Unit = {
    val dir = s"$outRoot/x$n"
    val done = java.nio.file.Paths.get(s"$dir/_READY_REL_v1")
    if (java.nio.file.Files.exists(done)) return
    def maxKey(t: String, k: String): Long =
      Catalog.table(spark, baseDir, t).agg(max(col(k))).head.getLong(0) + 1L
    val strides = Map(
      "custkey" -> maxKey("customer", "c_custkey"),
      "orderkey" -> maxKey("orders", "o_orderkey"),
      "partkey" -> maxKey("part", "p_partkey"),
      "suppkey" -> maxKey("supplier", "s_suppkey"),
      "event_id" -> maxKey("events", "event_id"),
      "user_id" -> maxKey("events", "user_id"))
    def strideFor(c: String): Option[Long] =
      strides.collectFirst { case (suf, s) if c.endsWith(suf) => s }
    def stack(table: String, copies: Int, parts: Int): Unit = {
      val base = Catalog.table(spark, baseDir, table)
      val projected = base.columns.map { c =>
        strideFor(c) match {
          case Some(s) => (col(c) + col("_k").cast("long") * lit(s)).as(c)
          case None => col(c)
        }
      }
      base.withColumn("_k", explode(sequence(lit(0), lit(copies - 1))))
        .select(projected.toIndexedSeq: _*)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    stack("customer", n, 8)
    stack("orders", n, 8)
    stack("lineitem", n, 32)
    stack("part", n * 2, 8)
    stack("supplier", n * 16, 4)
    stack("events", n, 8)
    // fixed dims: copied verbatim so every query resolves its reads
    Seq("nation", "region").foreach { t =>
      Catalog.table(spark, baseDir, t).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    java.nio.file.Files.createFile(done): Unit
  }

  /** One measured operator: the registered query fn, its candidate-stage
    * counter, the candidate growth model ("linear" | "prefix" |
    * "banded16" = linear true pairs + 1/2^16 incidental term), a factor
    * cap, an UNTIMED setup (index/artifact lands the bench also performs
    * untimed), optional extra metrics gathered after the timed run, and a
    * per-op bound over those extras vs their ×1 base. */
  /** sim15's per-factor serve measurement, written by its candidates fn
    * (which runs before extra in the harness loop) and read by its extra
    * map — ops run sequentially, so a plain var suffices. */
  private var sim15BlocksOpened: Long = -1L
  /** dd9's per-factor candidate count — same stash pattern. */
  private var dd9Candidates: Long = -1L

  /** dd9's index-independence bound, shared by the harness's extraTrack
    * and ScaleSpec so the two cannot silently diverge: candidates per 1k
    * incoming docs must stay ~flat (re-roll tolerance) as the index
    * grows. */
  private[graft] def dd9FanInOk(base: Long, cur: Long): Boolean =
    cur <= base * 3 + 50

  /** dd5's exact two-term output model, shared by the harness's
    * extraTrack and ScaleSpec: found rows = baseFound·N² (every base
    * qualifying pair appears once per ordered copy combination; ±30%
    * for threshold-adjacent re-roll under the ±2.4% jitter) +
    * baseVectors·C(N,2) (SELF-pairs — copies of one base vector sit at
    * cos ≈ 1, all robustly above threshold; the dominant term because
    * the base qualifying rate is small). Measured ×8: 25,024 + 56,000
    * predicted vs 81,379 observed; ×16: 340,096 vs 341,057. */
  private[graft] def dd5RowsOk(factor: Int, baseFound: Long,
      baseVectors: Long, found: Long): Boolean = {
    val n = factor.toLong
    val self = baseVectors * n * (n - 1) / 2
    found >= baseFound * n * n / 3 + self * 9 / 10 - 10 &&
      found <= baseFound * n * n * 13 / 10 + self * 21 / 20 + 10
  }

  /** Ceiling on surviving base vectors at the supported base SFs (sf0.1
    * lands 2,000; 2× headroom for a regenerated corpus) — bounds the
    * self-pair term inside [[rowsTrack]]'s coarse quadspec band; the
    * PRECISE two-term check is [[dd5RowsOk]] via the op's extras. */
  private[graft] val Dd5SelfPairCeiling = 4000L

  /** `stages`: named SHARED-ARTIFACT builds run (and timed individually,
    * reported as `<name>_ms`) BEFORE the timed query, so `sec` prices the
    * op's OWN stage. Without the split, whichever dd6-family op ran first
    * at a factor paid the per-dir memo rebuild invisibly (r14: the 20.3 s
    * dd8 ×32 row was mostly dd6's candidate pipeline) — now the rebuild
    * is its own column and `sec` is attributable. */
  /** `ioBoundFrom`: the factor from which this op's runtime is judged on
    * its CONTROL-NORMALIZED ratio (sec / control_sec) instead of raw
    * wall-clock — for rows whose cost is dominated by multi-GB
    * shuffle/spill disk traffic, where identical code measured a 3.3×
    * wall-clock band across sweeps (dd6 ×64: 26.9-87.7 s) and a raw-seconds
    * budget prices host disk state, not the plan (r17 verdict ask 1). */
  private[graft] case class Op(name: String,
      query: (SparkSession, String) => DataFrame,
      candidates: (SparkSession, String) => Long,
      model: String, maxFactor: Int = Int.MaxValue,
      ioBoundFrom: Int = Int.MaxValue,
      setup: (SparkSession, String) => Unit = (_, _) => (),
      stages: Seq[(String, (SparkSession, String) => Unit)] = Seq.empty,
      extra: (SparkSession, String) => Map[String, Long] = (_, _) => Map.empty,
      extraTrack: (Int, Map[String, Long], Map[String, Long]) => Boolean =
        (_, _, _) => true)

  private[graft] def ops: Seq[Op] = Seq(
    Op("dd3_minhash", operators.Dedup.minhashNearDup,
      (s, d) => operators.Dedup.minhashPieces(s, d)._2.count(), "linear"),
    Op("dd6_ngram", operators.Dedup.ngramJaccard,
      (s, d) => operators.Dedup.ngramCandidateFrame(s, d).count(),
      "prefix",
      // ×16 on: 13-26 GB through the candidate exchanges — the sweep's
      // one documented disk-variance row; runtime judged on control ratio
      ioBoundFrom = 16,
      // split: the shared bigram frame (tokenize→shingle→hash→persist)
      // and the landed prefix rows build untimed-separately (as dd9's
      // row does), so `sec` prices dd6's own probe + verify stages
      stages = Seq("bigram_base_build" -> operators.Dedup.ensureNgramBase,
        "prefix_rows_build" -> operators.Dedup.ensurePrefixRows)),
    Op("dd15_edit", operators.Dedup.editDistanceNearDup,
      (s, d) => operators.Dedup.editCandidateFrame(s, d).count(), "banded16"),
    // q29: the sweep's first RELATIONAL row (r16 — the audit now PLANS
    // the q/x family at blown stats; this MEASURES one). The registry's
    // widest plan: filtered lineitem ⋈ orders fact-to-fact plus five
    // dims under a rollup. "Candidates" = the filtered fact rows feeding
    // the join (exactly N× by fixture construction); output rows are the
    // rollup's (r_name, n_name) group space — factor-INDEPENDENT (copies
    // repeat the same dims), so rows == base like the serve-family ops.
    // What the row prices at blow-up: the fact⋈fact exchange + SMJ/SHJ
    // growth and the rollup's Expand over the widest joined stream —
    // the shapes the r16 hint removal and audit extension reason about.
    Op("q29_wide_star", operators.Coverage.q29WideStar,
      (s, d) => Catalog.table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .count(),
      "linear"),
    // q5/q18 (r17 verdict ask 5): the join families behind the
    // reference's headline TPC-DS claim, MEASURED ×1–×64 now that the
    // scaling-dim hints are gone — the runtime/shuffle complement to
    // ScaleSpec's plan-level dim-flip proof. q5 is the 6-table star
    // (fact⋈fact plus two scaling dims whose broadcast/SHJ choice flips
    // with stats, nation/region pinned broadcast); q18 is the fact⋈fact
    // RANGE join (equi key + date-range residual — the no-cartesian
    // contract priced at blown stats). Both outputs are dim-group spaces
    // (per-nation / per-priority), so rows == base at every factor;
    // candidates = the filtered fact side (exactly N× by construction).
    Op("q5_star_join", operators.Relational.q5LocalSupplier,
      (s, d) => Catalog.table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp")).count(),
      "linear"),
    Op("q18_range", operators.Relational.q18RangeJoin,
      (s, d) => Catalog.table(s, d, "lineitem").count(),
      "linear"),
    // dd5: the ONE op whose growth is QUADRATIC BY SPEC — within-cell
    // all-pairs at fixed cell count (Σ C(c·N, 2) candidates), and the
    // fixture's embedding copies are ±2.4%-perturbed SEMANTIC near-dups
    // of their originals (unlike the text bijections' disjoint copies),
    // so the qualifying OUTPUT is ~N² too: the blown corpus genuinely
    // holds quadratically many near-dup pairs and exact recall must
    // report them. Measured so the portfolio's honest exception is in
    // the artifact, capped at ×16 (the ×32 pair volume is ~107 GB
    // through the join — the measurement that MOTIVATES the SemDeDup
    // K ∝ corpus posture documented in Dedup.embeddingCandidateFrame).
    Op("dd5_embed", operators.Dedup.embeddingNearDup,
      (s, d) => operators.Dedup.embeddingCandidateFrame(s, d).count(),
      "quadspec", maxFactor = 16,
      // the precise two-term output model needs the measured vector
      // count (the self-pair term's coefficient) — carried as extras so
      // dd5RowsOk pins found = base·N² + V·C(N,2) from the artifact
      extra = (s, d) => Map(
        "corpus_vectors" -> operators.Similarity.emb(s, d).count(),
        "found_rows" -> operators.Dedup.embeddingNearDup(s, d).count()),
      extraTrack = (n, base, e) => dd5RowsOk(n, base("found_rows"),
        base("corpus_vectors"), e("found_rows"))),
    // dd16: the banded screen over dd5's pair space — measured NEXT TO
    // dd5 so the artifact prices what banding buys (the candidate
    // CONSTANT: ~53% of dd5's at every factor, and ONE MORE FACTOR of
    // feasible corpus: dd5 caps at ×16 where its exact pair volume hits
    // ~107 GB through the join, while dd16's screened join runs ×32
    // inside the linear spill budget) and what it cannot (the complexity
    // class — still quadspec; the within-cell background similarity sits
    // too close to dd5's 0.35 threshold for any sign-LSH resolution to
    // separate cheaply — the S-curve math is derived in
    // Dedup.semanticDedupCandidates' scaladoc). Same two-term output
    // model: self-pairs sit at cos ≈ 1 where band recall is ≈ 1.
    Op("dd16_banded", operators.Dedup.semanticDedupBanded,
      (s, d) => operators.Dedup.semanticDedupCandidates(s, d).count(),
      "quadspec", maxFactor = 32,
      extra = (s, d) => Map(
        "corpus_vectors" -> operators.Similarity.emb(s, d).count(),
        "found_rows" -> operators.Dedup.semanticDedupBanded(s, d).count()),
      extraTrack = (n, base, e) => dd5RowsOk(n, base("found_rows"),
        base("corpus_vectors"), e("found_rows"))),
    // dd19: the PRODUCTION-threshold regime the dd16 crossover analysis
    // derived but r15 never measured — cos ≥ 0.9 over 45 × 16-bit bands,
    // where the incidental floor is 45/2^16 ≈ 0.069% and candidates ≈
    // true pairs ≪ corpus × bands. Measured A/B of the two verify shapes
    // (same host, back-to-back):
    //
    //   factor  cand       corpus×bands  pair-attach        ride-in
    //   ×1      244        90,000        3.6 s / 0.01 GB    2.5 s / 0.07 GB
    //   ×8      72,448     720,000       4.6 s / 0.21 GB    3.2 s / 0.96 GB
    //   ×16     305,707    1,440,000     4.7 s / 0.66 GB    5.3 s / 2.07 GB
    //   ×32     1,255,439  2,880,000     6.1 s / 2.29 GB    7.4 s / 4.58 GB + 2.17 GB SPILL
    //
    // The slim PAIR-ATTACH shape (the opposite of dd16's ride-in) wins
    // from ×16 on — 3-5× less shuffle at every factor and spill-free
    // where ride-in starts spilling — confirming the volume-product rule
    // (2·|pairs| vs |corpus|·bands); ride-in's small-factor edge is
    // stage-count overhead, not data. The registered shape is
    // pair-attach; the loser is kept as semanticDedupProdRideIn.
    // Candidates are two-term like dd5 (incidental·N² + V·C(N,2)
    // fixture self-pairs — the copy mass IS near-dup mass at cos 0.99),
    // hence the prodspec model; found rows are the self-pairs exactly
    // (recall ≈ 1 at cos 0.99: per-band keep 0.48, miss ≈ 0.52^45).
    // NOTE the name: dd19_prod_RAW — the registry query dd19_banded_prod
    // serves the landed jittered-copy fixture (guaranteed cos >= 0.9
    // mass, hash-oracled); this sweep row measures the same operator
    // over the RAW corpus, whose base output is empty by corpus
    // construction. Distinct names keep cross-artifact triage honest
    // (r17 review: one name for two pipelines conflated scale.json
    // rows with bench/verify numbers).
    Op("dd19_prod_raw", operators.Dedup.semanticDedupProd,
      (s, d) => operators.Dedup.semanticDedupProdCandidates(s, d).count(),
      "prodspec", maxFactor = 32,
      extra = (s, d) => {
        val vecs = operators.Similarity.emb(s, d).count()
        Map("corpus_vectors" -> vecs,
          "corpus_x_bands" -> vecs * graft.expr.RandomHyperplanes.ProdBands,
          "found_rows" -> operators.Dedup.semanticDedupProd(s, d).count())
      },
      extraTrack = (n, base, e) => dd5RowsOk(n, base("found_rows"),
        base("corpus_vectors"), e("found_rows"))),
    Op("mm6_phash", operators.Multimodal.perceptualNearDup,
      (s, d) => operators.Multimodal.perceptualPieces(s, d)._2.count(),
      "banded16"),
    Op("dd13_bloom_decontam", operators.Dedup.decontaminateBloom,
      (s, d) => {
        // candidate volume = shared (train-shingle, test-shingle) join
        // rows after the bloom prune — Σ n_shared over flagged docs.
        // Within-copy contamination replicates per copy (the split
        // re-rolls per copy around the same rate: splitHash keys on the
        // shifted doc_id); cross-copy shingle hashes are disjoint ⇒
        // ≈ linear.
        val flagged = operators.Dedup.decontaminateBloomPlan(s, d)
        Option(flagged.agg(sum(col("n_shared"))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
      }, "linearRR"),
    Op("sim11_ivf", operators.Similarity.ivfMultiProbeTopK,
      (s, d) => {
        val corpus = operators.Similarity.emb(s, d)
        val n = corpus.count()
        val (_, frac) = operators.Similarity
          .ivfMultiRecallFraction(s, corpus, operators.Similarity.NProbe)
        math.round(frac * 10 * n) // scanned rows = fraction × |probes| × n
      }, "linear"),
    // dd8: iterative CC over dd6's (now prefix-banded) verified pairs —
    // the r12 unknown: rounds-to-convergence × per-round shuffle under
    // blow-up. Edges replicate exactly N× (hash-free verify); ROUNDS must
    // stay FLAT (component diameter is a per-copy property — copies
    // replicate clusters, never chain them), so total shuffle is
    // rounds × |labels| ≈ linear.
    Op("dd8_cc", operators.Dedup.dedupClusters,
      (s, d) => operators.Dedup.verifiedNgramPairs(s, d).count() * 2,
      "prefix",
      // split: dd6's whole verified-pairs pipeline (the memo is per-dir,
      // so each factor rebuilds it) lands as `dd6_rebuild_ms`; `sec` is
      // the CC iteration alone
      stages = Seq("dd6_rebuild" ->
        ((s: SparkSession, d: String) =>
          operators.Dedup.verifiedNgramPairs(s, d).count(): Unit)),
      extra = (_, _) =>
        Map("cc_rounds" -> operators.Dedup.lastCcRounds.toLong),
      extraTrack = (_, base, e) =>
        e("cc_rounds") <= base("cc_rounds") + 1),
    // dd17: canonical selection over the LANDED cluster ids — the claim:
    // the keep stage itself is one equi-join plus one cluster-keyed
    // window (a single shuffle, per-partition work bounded by cluster
    // size), so `sec` stays flat-linear while the cluster_build stage
    // column carries the dd6+CC pipeline it rides on (rows = every
    // quality-eligible doc, exactly N×)
    Op("dd17_keep", operators.Dedup.canonicalKeep,
      // dd17 has no candidate stage (the keep join's work IS the output
      // rows) — report 0 rather than repurposing the candidate-pairs
      // column for the corpus size (r15 ADVICE); the input volume lands
      // as the named `docs_in` extra instead
      (_, _) => 0L,
      "linear",
      stages = Seq("cluster_build" ->
        ((s: SparkSession, d: String) =>
          operators.Dedup.dedupClusters(s, d).count(): Unit)),
      extra = (s, d) =>
        Map("docs_in" -> Catalog.table(s, d, "documents").count()),
      extraTrack = (n, base, e) => e("docs_in") == base("docs_in") * n),
    // dd9: the incremental probe through the SHARED prefix rows — the
    // claim: per-batch cost = |incoming| × rare-token fan-in, never an
    // index self-join. The harness blows BOTH sides up N× (incoming is
    // the doc_id % 5 slice of the blown corpus, whose membership
    // re-rolls per copy under the id shift), so candidates and output
    // rows track ~N× with a per-copy re-roll; the INDEX-INDEPENDENCE
    // claim is pinned by the extra: candidates per 1k incoming docs must
    // stay ~flat while the index behind the probe grows 32×.
    Op("dd9_incremental", operators.Dedup.incrementalDedup,
      (s, d) => {
        dd9Candidates = operators.Dedup.incrementalCandidateIds(s, d).count()
        dd9Candidates
      }, "linearRR",
      // dd9 shares the bigram BASE and (r19) the landed PREFIX-ROWS frame
      // with dd6 — both are cross-op landed artifacts, priced separately
      // so the row keeps measuring the probe stage itself
      stages = Seq("bigram_base_build" -> operators.Dedup.ensureNgramBase,
        "prefix_rows_build" -> operators.Dedup.ensurePrefixRows),
      extra = (s, d) => {
        val incoming = Catalog.table(s, d, "documents")
          .filter(col("doc_id") % 5 === 0).count()
        Map("incoming_docs" -> incoming,
          "cand_per_1k_incoming" ->
            (if (incoming == 0) 0L else dd9Candidates * 1000 / incoming))
      },
      extraTrack = (_, base, e) =>
        dd9FanInOk(base("cand_per_1k_incoming"), e("cand_per_1k_incoming"))),
    // sim15: top-k SERVED from the landed IVF-PQ index (index build is
    // untimed setup, as the bench lands it). The claim: serve cost tracks
    // |probes| × the probed-cell FRACTION — blocks opened grow ~linearly
    // with the corpus but stay a cell-pruned fraction of the store, and
    // the output is |probes|×k at every factor.
    Op("sim15_serve", operators.Similarity.landedAnnTopK,
      (s, d) => {
        // candidates and extra both want the readersOpened delta over an
        // identical serve run — measure ONCE here and stash for extra
        // (r13 ADVICE: the third execution bought nothing)
        val before = graft.sources.BlockStore.readersOpened.get
        operators.Similarity.landedAnnTopK(s, d)
          .write.mode("overwrite").format("noop").save()
        sim15BlocksOpened = graft.sources.BlockStore.readersOpened.get - before
        sim15BlocksOpened
      }, "linear",
      setup = (s, d) => { operators.Similarity.ensureLandedIndex(s, d): Unit },
      extra = (s, d) => Map(
        "index_blocks" ->
          graft.sources.BlockStore.blockCount(Landed.store("annidx@", d)).toLong,
        "blocks_opened" -> sim15BlocksOpened),
      // dictionary pruning must HOLD under blow-up: the store lands
      // ~|cells| blocks at every factor (cell-clustered write), so the
      // serve's OPENED block count must stay FLAT — more corpus means
      // bigger probed blocks, never more of them (scan volume is the
      // probed fraction of 4-byte codes; block count is the open/seek
      // cost a 1000-executor serve actually pays per query)
      extraTrack = (_, base, e) =>
        e("blocks_opened") <= base("blocks_opened") * 2 + 4),
    // s25: streaming ANN ingest — per-batch PQ-encode against the landed
    // codebook; ingested rows grow N×, runtime must track the FEED (the
    // O(batch) contract summed over batches), never the landed corpus.
    Op("s25_ingest", streaming.StreamingOps.streamAnnIngest,
      (s, d) => operators.Similarity.ingestFeedIds(s, d).count(),
      "linear"),
    // s20: the sweep's first STATEFUL streaming row (r17 verdict ask 5 —
    // the 27 streaming queries are legitimately plan-audit-skipped, so
    // state-STORE growth had no measured scale story). TWS digest dedup
    // under RocksDB: the claim is state = ONE entry per distinct
    // fingerprint (≈ linear in corpus — the text-bijection copies are
    // distinct bags), never per stream row or per batch, and per-run cost
    // tracks the incoming feed. Candidates = the incoming 20% slice
    // (doc_id % 5 membership re-rolls per copy under the id shift ⇒
    // linearRR); extras carry the state-store columns off the final
    // progress (state_rows is the contract; state_bytes and batches are
    // telemetry).
    Op("s20_stream_dedup", streaming.StreamingOps.streamDedupBootstrap,
      (s, d) => Catalog.table(s, d, "documents")
        .filter(col("doc_id") % 5 === 0).count(),
      "linearRR", maxFactor = 32,
      extra = (_, _) => Map(
        "state_rows" -> streaming.StreamingOps.lastStateRows,
        "state_bytes" -> streaming.StreamingOps.lastStateBytes,
        "batches" -> streaming.StreamingOps.lastNumBatches),
      extraTrack = (n, base, e) =>
        // one state entry per distinct fingerprint: linear in the corpus
        // with a re-roll band (digest collisions, per-copy % 5 re-roll).
        // The -1 "no state operators in the final progress" sentinel must
        // FAIL the bound, not satisfy it vacuously (r17 review: -1 on both
        // sides passed the linear band and committed extra_within_bound
        // true with no measurement run) — state_rows is the contract
        // column, so a sentinel there means the claim was NOT verified.
        base("state_rows") > 0 && e("state_rows") > 0 &&
          e("state_rows") >= base("state_rows") * n * 7 / 10 &&
          e("state_rows") <= base("state_rows") * n * 13 / 10 + 50),
    // s9_join_state: the stream-stream JOIN state row (r17 verdict ask 4 —
    // the class whose state explodes when a watermark is mis-set). The
    // feed extends the TIME axis (factor N = N eras replayed as N
    // in-order micro-batches, ensureEventsFeed), so input rows and batch
    // count grow N× while the watermark evicts each era as the next
    // streams: the CONTRACT is state_rows_peak ~FLAT in N (the symmetric
    // hash join holds the watermark window's rows — one era plus the
    // previous era's un-evicted tail — never the stream). A mis-set
    // watermark or a single-batch replay would peak at the full stream
    // and fail the flat bound; the -1 sentinel guards keep an unmeasured
    // run from passing vacuously (the s20 lesson). Final state_rows and
    // state_bytes ride as telemetry; runtime tracks the feed (linear).
    Op("s9_join_state", streaming.StreamingOps.streamOuterJoinFeed,
      (s, d) => s.read.parquet(s"$d/events_feed").count(),
      "linear", maxFactor = 32,
      extra = (_, _) => Map(
        "state_rows_peak" -> streaming.StreamingOps.lastStateRowsPeak,
        "state_rows" -> streaming.StreamingOps.lastStateRows,
        "state_bytes" -> streaming.StreamingOps.lastStateBytes,
        "batches" -> streaming.StreamingOps.lastNumBatches),
      extraTrack = (n, base, e) =>
        base("state_rows_peak") > 0 && e("state_rows_peak") > 0 &&
          e("state_rows_peak") <= base("state_rows_peak") * 13 / 10 + 1000 &&
          e("batches") >= n))

  /** Fixed-size pure-shuffle I/O CONTROL (r17 verdict ask 1): ~1.1 GB of
    * incompressible-ish rows (md5 hex ×4) through one full exchange plus a
    * small aggregation, identical at every factor. Its wall-clock prices
    * the HOST's shuffle-disk throughput at that moment, so a row's
    * `control_ratio` (sec / control_sec) is comparable across sweeps where
    * absolute seconds are not: dd6 ×64 measured 26.9-87.7 s on identical
    * code (SCALE.md) — a 3.3× band that was all disk state. Run adjacent
    * to every timed row; deterministic (range + md5, no entropy source). */
  private[graft] def controlShuffleSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8L * 1000 * 1000, 1L, 32)
      .select(col("id"), md5(col("id").cast("string")).as("h"))
      .select(col("id"),
        concat(col("h"), col("h"), col("h"), col("h")).as("p"))
      .repartition(32, col("id"))
      .groupBy(pmod(col("id"), lit(9973L)).as("k"))
      .agg(sum(length(col("p"))).as("s"), count(lit(1)).as("n"))
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The runtime flag's decision rule, shared with ScaleSpec so the two
    * cannot diverge: I/O-bound rows (factor ≥ the op's `ioBoundFrom`) are
    * budgeted on the CONTROL-NORMALIZED ratio — a host whose disk is N×
    * slower slows the control N× too, so the ratio isolates the plan —
    * while everything else keeps the wall-clock bound (the control has
    * its own jitter; dragging CPU-bound sub-second rows through a ratio
    * would ADD noise, not remove it). */
  private[graft] def runtimeOk(model: String, factor: Int, ioBound: Boolean,
      baseSec: Double, baseCtl: Double, sec: Double, ctl: Double): Boolean =
    if (ioBound && baseCtl > 0 && ctl > 0)
      sec / ctl <= runtimeBound(model, factor, baseSec / baseCtl)
    else sec <= runtimeBound(model, factor, baseSec)

  /** The session's measure, installed once by main — a scale row carries
    * the same record as a bench.json query (the r14 verdict's ask: the ×32
    * runtime step should be NAMEABLE from the artifact alone). */
  private var measure: Measure = _

  /** One measured row: the row count of one registered-query run through
    * the bench's measurement window. The row count is a SECOND, untimed
    * execution — operator-level memos make it cheaper than the timed run,
    * and timing fidelity beats harness wall-clock here (a persist inside
    * the window would bill cache materialization/spill to the query). */
  private def timed(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String): (Long, Measure.Record) = {
    val m = measure.window(dir)(fn)
    m.error.foreach(e => throw e)
    val rows = fn(spark, dir).count()
    try spark.catalog.clearCache() catch { case _: Throwable => }
    System.gc()
    (rows, m.copy(frame = None, executed = None))
  }

  /** Do found rows track N× the base? EXACT for hash-free dd6 blocking
    * and for sim11 (|probes|×k, factor-independent); hash-banded ops
    * (dd3/dd15/mm6) re-roll their banding recall per copy (each copy's
    * hash values differ), so they track within ±15% + a small absolute
    * floor rather than exactly. */
  private[graft] def rowsTrack(name: String, model: String, factor: Int,
      base: Long, rows: Long): Boolean = {
    // 16-bit band spaces re-roll recall harder per copy than dd3's
    // 4×60-bit bands (bit bias concentrates true pairs in few buckets;
    // a copy's rehash redistributes them) — measured ±18% at sf0.1 ×8
    val tol = if (model.startsWith("banded16")) 0.25 else 0.15
    // factor-independent outputs: |probes|×k serves (sim11/sim15/s25)
    // and q29's rollup group space (copies repeat the same dims)
    if (Set("sim11_ivf", "sim15_serve", "s25_ingest",
        "q29_wide_star", "q5_star_join", "q18_range")(name)) rows == base
    // dd6's prefix generator has EXACT recall (hash-free semantics: the
    // feature-block + 0.6 verify replicates per copy verbatim), so found
    // rows — unlike the hash-banded ops — must track N× exactly
    else if (model == "quadratic" || model == "prefix") rows == base * factor
    else if (model.startsWith("banded16"))
      // 16-bit bands: found rows = N× true pairs (per-copy band re-roll,
      // the ±tol term) PLUS the incidental-collision tail that SURVIVES
      // the verify — candidates carry a ~C(n,2)/2^16 quadratic term and a
      // corpus-density-dependent sliver of those pass the Hamming/edit
      // bound. Measured on mm6 (excess over base·N): ×8 −5, ×16 +245,
      // ×32 +1,454, ×64 +7,572 ≈ 0.96–1.85 × N² — a quadratic-in-factor
      // tail with a tiny constant, bounded here at 2.2·N² (dd15's
      // counting filter kills its version of the same tail: excess ≤ 62
      // through ×64).
      rows >= base * factor - math.round(tol * base * factor) - 10 &&
        rows <= base * factor + math.round(tol * base * factor) +
          22L * factor * factor / 10 + 10
    else if (model == "quadspec" || model == "prodspec")
      // dd5 (and dd19's found rows): genuinely quadratic (see the Op
      // comments — the embedding copies are semantic near-dups, so both
      // the replicated base pairs AND the cross-copy SELF-pairs qualify;
      // for dd19 the base term is ~0 — the raw corpus has no cos ≥ 0.9
      // mass — and the self-pair term is the whole output).
      // This coarse band proves "quadratic, not worse" from (base, N)
      // alone; the PRECISE two-term model (base·N² + V·C(N,2)) is
      // [[dd5RowsOk]], pinned through the op's extras where the vector
      // count V is measured rather than bounded
      rows >= base * factor * factor / 3 - 10 &&
        rows <= base * factor * factor * 13 / 10 +
          Dd5SelfPairCeiling * factor * factor * 11 / 20 + 10
    else if (model == "linearRR")
      // dd13: the train/test split RE-ROLLS per copy (the salted split
      // hash keys on the shifted doc_id), so each copy draws a fresh
      // partition around the same contamination rate — linear in
      // EXPECTATION with per-draw variance against the ×1 single draw.
      // The band is wide enough for small-count bases and still far
      // below quadratic growth (a quadratic op would sit at N× the
      // upper bound by ×8).
      rows >= base * factor / 3 - 10 && rows <= base * factor * 3 + 10
    else math.abs(rows - base * factor) <=
      math.max(math.round(tol * base * factor), 10L)
  }

  /** Does the candidate count track the op's banding-math model?
    *   linear    — 60-bit bands / probed-cell fractions: ≈ N × base;
    *   quadratic — feature blocking: between N× and ~N²× (block sizes
    *               grow with the corpus — the measured honest answer);
    *   banded16  — linear true pairs + a 16-bit-band incidental term
    *               whose constant depends on bit bias, bounded by pure
    *               quadratic growth. */
  private[graft] def candTrack(model: String, factor: Int, base: Long,
      cand: Long): Boolean = {
    val n = factor.toLong
    model match {
      case "linear" => cand <= base * n * 13 / 10 + 50
      // prefix: candidate COUNTS re-roll per copy (prefix membership
      // tie-breaks on the copy's hashes) around a linear mean; far below
      // the old quadratic blocking, which sat at N²× by ×8
      case "prefix" | "linearRR" =>
        cand >= base * n / 3 - 50 && cand <= base * n * 3 + 50
      case "quadratic" =>
        cand >= base * n && cand <= base * n * n * 13 / 10 + 50
      // quadratic BY SPEC (dd5): candidates are the exact within-cell
      // pair count Σ C(c·N, 2) ∈ [N²·base, ~1.06·N²·base] — tighter than
      // the generic quadratic band on BOTH sides (a linear-side slip
      // would mean the candidate stage silently lost pairs = lost recall)
      case "quadspec" =>
        cand >= base * n * n && cand <= base * n * n * 13 / 10 + 50
      // dd19: candidates = incidental collisions (exactly N²-scaled: the
      // within-cell pair space at the 45/2^16 floor) PLUS the fixture's
      // V·C(N,2) self-pairs, which the 16-bit bands keep at recall ≈ 1
      // (cos ≈ 0.99) — bounded by the same two-term shape as rowsTrack's
      // quadspec branch, with the self-pair ceiling term
      case "prodspec" =>
        cand >= base * n * n / 3 - 50 &&
          cand <= base * n * n * 13 / 10 +
            Dd5SelfPairCeiling * n * n * 11 / 20 + 50
      case _ => cand <= base * n * n * 13 / 10 + 50
    }
  }

  /** Per-model runtime bound vs the ×1 measurement (slack for host noise —
    * the point is catching a blown-up plan going quadratic when it claimed
    * linear, not adjudicating jitter; an absolute floor keeps
    * overhead-dominated sub-second baselines from tripping it). r15
    * tightened 2.5× → 1.6× after the dd6-family ×32 step was traced to a
    * join-strategy flip (cache-stats-dependent corpus broadcast vs
    * spilling SMJ) and pinned to shuffled-hash joins: with the plan
    * stable, measured growth is genuinely sub-linear (the ×1 run is
    * overhead-dominated), so the old slack hid real regressions. */
  private[graft] def runtimeBound(model: String, factor: Int,
      base: Double): Double = {
    // prodspec DELIBERATELY keeps the linear bound despite its
    // quad-by-spec candidate model: dd19's runtime is signature-build
    // dominated (corpus × bands, linear) and its quadratic candidate
    // stream carries a 0.069% constant — at the capped ×32 the measured
    // 6.4 s sits 15× under this bound, and a runtime actually going
    // quadratic there would be a plan cliff worth failing on
    val growth =
      if (model.startsWith("quad")) factor.toDouble * factor
      else factor.toDouble
    base * growth * 1.6 + 15.0
  }

  /** Execution-memory health: spill must stay inside a LINEAR-in-factor
    * budget. This is the MECHANISM flag for the r14 table's unexplained
    * dd6/dd8 ×32 step — the cache-state-flipped SMJ plan wrote 6.8 GB of
    * candidate-sort spill at ×32 where ×16 wrote zero, which
    * `runtime_within_bound`'s slack admitted. The budget's model: spill
    * that grows LINEARLY with the corpus is an external-memory operator
    * doing its job on a fixed-memory harness (dd6's ×64 candidate-distinct
    * partial aggregate spills ~72 MB per factor unit and runtime stays
    * 2× on 2× data); spill arriving SUPER-linearly is a plan cliff (the
    * r14 SMJ sorts: 213 MB/factor at ×32, 0 before — fails this bound).
    * Constants: 2× the ×1 baseline's linear extrapolation + 96 MB/factor
    * + a 256 MB absolute floor for zero-base jitter.
    *
    * QUAD-BY-SPEC ops (dd5/dd16) get one extra term: their candidate
    * volume is the SPEC (N² by construction), and an external aggregate
    * or join may legitimately spill each candidate row once when the
    * volume outgrows execution memory — dd16 at ×32 spills ~39 B per
    * candidate through the collision distinct, linear IN CANDIDATES and
    * healthy. The budget adds 64 B × candidates for quad models only;
    * spill beyond candidate-linear is still a cliff there too, and
    * linear-model ops keep the strict linear-in-factor budget. */
  private[graft] def spillBound(model: String, factor: Int, baseSpill: Long,
      cand: Long): Long = {
    val linear = baseSpill * factor * 2 + (96L << 20) * factor + (256L << 20)
    // prodspec is quad-BY-SPEC too (rowsTrack/candTrack treat it so): a
    // candidate-linear external agg/join spill is healthy there as well
    if (model.startsWith("quad") || model == "prodspec") linear + 64L * cand
    else linear
  }

  /** UNBOUNDED-CORPUS-BROADCAST AUDIT — the r15 dd6 finding generalized
    * into a fleet guard. A BroadcastHashJoin whose build subtree reaches a
    * corpus-sized leaf (the documents/embeddings scan, a cached frame over
    * one, or a landed block-store scan) with NO cardinality-bounding
    * operator in between (aggregate / limit / top-k) is a plan that
    * broadcasts the corpus: invisible on a laptop (one in-JVM hash
    * relation), never the plan a cluster runs. Crucially the audit PLANS
    * at a BLOWN-UP corpus (`dir` = the sweep's largest factor), where
    * file sizes are large enough that any remaining broadcast decision is
    * an estimator defect (the dd6 class: a Project over an unmaterialized
    * persisted frame shrinking sizeInBytes below the threshold) rather
    * than a small-input optimization that accurate stats would undo at
    * scale. Returns (flagged, skipped) — skipped carries the reason per
    * query, so "flagged: []" can never silently mean "nothing audited"
    * (the r15 review's ask); the committed sweep writes both to
    * plan_audit.json — flagged expected empty. */
  /** Per-plan flag logic, split from the registry walk so the spec can
    * exercise each rule (hint-pinned relational broadcast, strict cache
    * reach, bounded aggregates) on constructed plans — nothing in the
    * committed flagged:[] otherwise proves the detector can fire. */
  private[graft] def corpusBroadcastFlags(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft

    // Columns whose distinct cardinality scales WITH the corpus: per-row
    // ids, content digests, and vocabulary hashes. An aggregate grouped
    // on one of these produces corpus-scale groups (|docs|, |vocab| —
    // Heaps-law sublinear is still far beyond broadcastable), so it does
    // NOT bound a broadcast build side. Everything else an aggregate
    // groups on here (lang, source, cell, band, month, 16-bit sigs) has
    // corpus-independent cardinality.
    def corpusKeyed(name: String): Boolean =
      name.endsWith("_id") ||
        // relational per-row keys (orderkey/custkey/partkey/suppkey):
        // |orders|/|customer|/... groups — corpus-scale. nation/region
        // keys deliberately NOT here (≤25 groups at any SF).
        Seq("orderkey", "custkey", "partkey", "suppkey")
          .exists(name.endsWith) ||
        Set("doc_a", "doc_b", "h", "fp", "tok", "g", "shingle")(name)

    // Two leaf classes with DIFFERENT flag rules (r16):
    //
    //   STRICT — documents/embeddings scans, landed block-store scans,
    //   and any cached frame whose plan reaches a corpus-scaled leaf.
    //   These are the dedup/similarity family's corpus BY CONTRACT (the
    //   op's input is "the corpus", K ∝ corpus posture), so ANY broadcast
    //   that scales with them is a scale defect no matter what today's
    //   stats say — and cached frames carry the dd6-class estimator trap
    //   (pre-materialization sizeInBytes lies). Unchanged from r15; every
    //   r15 catch (dd9/sim17/sim18) stays a flag under this rule.
    //
    //   RELATIONAL — plain parquet scans of the corpus-scaled relational
    //   tables (lineitem/orders/events/customer/part/supplier). Their
    //   file-granularity stats are ACCURATE and grow linearly with the
    //   data, so a stats-driven broadcast of an 11 MB projected dim at
    //   ×64 is the plan a cluster SHOULD run and flips to a shuffled join
    //   by itself when the dim outgrows the threshold. The defect class
    //   here is the decision that CANNOT flip: a user broadcast() hint
    //   pinning the strategy at any size (r16 removed five of them:
    //   q3/q5/q17/q29/q30/q31 customer/supplier/part), or a build whose
    //   stats are opaque (cache/DSv2) — the latter already lands in
    //   STRICT via the leaf walk.
    def reaches(p: SparkPlan, leaf: SparkPlan => Option[Boolean]): Boolean =
      leaf(p).getOrElse(p match {
        // hard cardinality bounds: k rows no matter what lies below
        case _: TakeOrderedAndProjectExec | _: LocalLimitExec |
             _: GlobalLimitExec | _: CollectLimitExec =>
          false
        // an aggregate bounds the build side ONLY when its groups are
        // corpus-independent: a pure distinct() preserves its input's
        // cardinality class, and grouping on an id/digest/vocab key yields
        // corpus-scale groups — both masked the dd9-class regression under
        // the r15 audit's first any-aggregate-bounds rule (review finding)
        case a: BaseAggregateExec =>
          val pureDistinct = a.aggregateExpressions.isEmpty
          val idKeyed = a.groupingExpressions.exists(ne => corpusKeyed(ne.name))
          if (pureDistinct || idKeyed) a.children.exists(reaches(_, leaf))
          else false
        case other => other.children.exists(reaches(_, leaf))
      })
    def scansTable(f: FileSourceScanExec, tables: Seq[String]): Boolean =
      // rootPaths, NOT the display metadata string — metadata's
      // "Location" is truncated at maxMetadataStringLength (100 chars)
      // and a deep dir silently un-flags the scan (review finding)
      f.relation.location.rootPaths.exists { rp =>
        val s = rp.toString
        tables.exists(t => s.contains(s"$t.parquet"))
      }
    lazy val strictLeaf: SparkPlan => Option[Boolean] = {
      case f: FileSourceScanExec =>
        Some(scansTable(f, Seq("documents", "embeddings")))
      // cached stats can lie (dd6 class): a cache over ANY corpus-scaled
      // leaf — relational included — is strict
      case i: InMemoryTableScanExec =>
        Some(reaches(i.relation.cachedPlan, strictLeaf) ||
          reaches(i.relation.cachedPlan, relationalLeaf))
      // a landed block-store scan is the corpus by construction
      case _: BatchScanExec => Some(true)
      case _ => None
    }
    lazy val relationalLeaf: SparkPlan => Option[Boolean] = {
      case f: FileSourceScanExec =>
        Some(scansTable(f,
          CorpusScaledTables.filterNot(Seq("documents", "embeddings").contains)))
      case _: InMemoryTableScanExec | _: BatchScanExec => Some(false)
      case _ => None
    }
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LogicalJoin, BROADCAST}
    // a user hint pins the broadcast at ANY size — the non-adaptive
    // defect class for accurate-stats relational builds
    def hintPinned(b: SparkPlan, buildLeft: Boolean): Boolean =
      b.logicalLink.exists {
        case j: LogicalJoin =>
          (if (buildLeft) j.hint.leftHint else j.hint.rightHint)
            .exists(_.strategy.contains(BROADCAST))
        case _ => false
      }
    def unbounded(join: SparkPlan, build: SparkPlan, buildLeft: Boolean): Boolean =
      reaches(build, strictLeaf) ||
        (reaches(build, relationalLeaf) && hintPinned(join, buildLeft))
    plan.collect {
      case b: BroadcastHashJoinExec if unbounded(b,
          if (b.buildSide == BuildLeft) b.left else b.right,
          b.buildSide == BuildLeft) =>
        s"BroadcastHashJoin(${b.leftKeys.mkString(",")}) builds an unbounded corpus side"
      case b: BroadcastNestedLoopJoinExec if unbounded(b,
          if (b.buildSide == BuildLeft) b.left else b.right,
          b.buildSide == BuildLeft) =>
        "BroadcastNestedLoopJoin builds an unbounded corpus side"
    }
  }

  /** Walks the registry, planning every auditable query at `dir` (the
    * largest blown-up factor) and collecting [[corpusBroadcastFlags]].
    * Returns (flagged, skipped) — skipped carries the reason per query,
    * so "flagged: []" can never silently mean "nothing audited" (the r15
    * review's ask); the committed sweep writes both to plan_audit.json —
    * flagged expected empty. */
  /** The construction-runs-corpus-jobs queries (spec-pinned 1:1 with
    * [[SparkEntry.constructionRunsCorpusJobs]]), each with the largest
    * factor its construction survives (r17 verdict ask 2 — they used to be
    * skipped outright, leaving their plans-at-scale unaudited). dd8/dd17/
    * dd18 run dd6's verified-pairs pipeline + CC at the audit dir; p1/p11
    * rank and land the blown corpus; t20 runs the BPE train loop (vocab-
    * sized rounds over one corpus scan); all six are minutes-bounded at ×32.
    * x44's construction ingests the full blown lineitem into the in-memory
    * block store — at ×64 that OOM'd the audit JVM and killed four later
    * constructions (r16), so it audits at ×16 (~10M rows, comfortably
    * inside the 8 GB heap). A query is audited at its factor only when the
    * sweep actually synthesized that factor's dir; otherwise it keeps the
    * skip reason (an audit-only `1,64` run must not silently downgrade the
    * committed construction audit to ×1 plans). */
  private[graft] val ConstructionAuditFactors: Map[String, Int] = Map(
    "dd8_dedup_clusters" -> 32, "dd17_canonical_keep" -> 32,
    "dd18_dedup_savings" -> 32, "p1_pipeline_manifest" -> 32,
    "p11_landed_shards" -> 32, "x44_columnar_scan" -> 16,
    "t20_bpe_fertility" -> 32)

  /** EAGER queries audited by CAPTURE (r17, closing the audit's last
    * uninspected class): an eager query's returned frame is a
    * LocalRelation, but its construction EXECUTES corpus-scale plans —
    * [[graft.plans.PlanCapture]] records every AQE-planned execution's
    * initial physical plan while the construction runs at the listed
    * factor's dir, and the same flag rules walk each captured plan.
    * Factor choices: ×32 for compute-bounded constructions; ×16 for the
    * ones that land a corpus-size in-memory store (x36/x39/x41/x46/p10 —
    * the x44 memory lesson) or rewrite the corpus as text (x30). */
  private[graft] val EagerAuditFactors: Map[String, Int] = Map(
    "dd11_decontaminate" -> 32, "dd13_decontaminate_bloom" -> 32,
    "p5_token_shards" -> 32, "p7_incremental_shards" -> 32,
    "p8_curriculum_shards" -> 32, "p9_epoch_shuffle" -> 32,
    "p10_corpus_build" -> 16,
    "sim8_kmeans_iterate" -> 32, "sim9_recall_at_k" -> 32,
    "sim11_ivf_multiprobe" -> 32, "sim13_ivf_pq" -> 32,
    "sim14_recall_bar" -> 32, "sim23_mmr_topk" -> 32,
    "t9_quality_deciles" -> 32, "t13_bpe_pairs" -> 32,
    "t14_heavy_hitters" -> 32, "t19_bpe_train" -> 32,
    "t21_bpe_batch_train" -> 32,
    "x30_corrupt_ingest" -> 16, "x36_blockstore_sql" -> 16,
    "x38_observed_metrics" -> 32, "x39_blockstore_delete" -> 16,
    "x41_time_travel" -> 16, "x46_merge_upsert" -> 16,
    "x47_merge_sync" -> 16)

  /** Pseudo-factor for the STREAMING capture audit: the streaming
    * harnesses read the BASE testdata's single-file layout (the s20
    * lesson: blowup dirs land parquet DIRECTORIES the file-name globs
    * exclude — a stream over them silently reads zero rows), so they
    * audit at the base dir, recorded as factor 0. Honest coverage note:
    * the strict flag rules (corpus-leaf broadcast reach, hint pins) are
    * size-INDEPENDENT, so base-dir stats lose nothing for them; only the
    * stats-adaptive relational class is size-sensitive, and no streaming
    * query joins the relational dims. */
  private[graft] val StreamingAuditFactor = 0

  /** Full audit: (flagged, skipped) at `dir` plus the construction-query
    * audit (one entry per [[SparkEntry.constructionRunsCorpusJobs]] member,
    * spec-pinned 1:1) at the per-query factors of [[ConstructionAuditFactors]]
    * whose dirs are present in `factorDirs`, plus the eager-query CAPTURE
    * audit (one entry per [[SparkEntry.eagerQueries]] member, spec-pinned
    * 1:1, at [[EagerAuditFactors]]), plus the STREAMING capture audit
    * (every s-query, at `factorDirs(0)` = the base dir; a run that
    * captures no micro-batch plan is a LOUD skip, never a green-empty
    * row) — each returned as (query, factor, flags-at-that-factor). */
  private[graft] def auditCorpusBroadcasts(spark: SparkSession, dir: String,
      factorDirs: Map[Int, String]): ((Seq[(String, String)],
        Seq[(String, String)]), Seq[(String, Int, Seq[String])],
        Seq[(String, Int, Seq[String])], Seq[(String, Int, Seq[String])]) = {
    // deliberate corpus-DERIVED broadcasts, each with its rationale —
    // the analogue of PlanAuditSpec.allowCross for this audit
    val allowed = Set(
      // x35's broadcast dim IS the demonstrated runtime-filter shape: it
      // models a small dimension table (carved from the corpus fixture
      // by a selective predicate), and its explicit broadcast() is the
      // query's contract — the injected runtime filter on the store scan
      // is the thing x35 exists to prove
      "x35_blockstore_runtime_prune")
    val streaming = "s\\d+_.*".r
    val flagged = Seq.newBuilder[(String, String)]
    val skipped = Seq.newBuilder[(String, String)]
    val construction = Seq.newBuilder[(String, Int, Seq[String])]
    val eager = Seq.newBuilder[(String, Int, Seq[String])]
    val streamingAudited = Seq.newBuilder[(String, Int, Seq[String])]
    /** Armed construction run → distinct flags over every captured plan.
      * `streamingRun` adds two guarantees for the s-family: an UNARMED
      * warmup run first, so one-time fixture lands (blockCount==0 guards)
      * execute outside the capture window and the flag set is
      * reproducible across fresh vs pre-landed dirs; and the micro-batch
      * offer counter must move, so a broken drain reflection cannot hide
      * behind batch sub-plans that fed the queue via stage prep (both r17
      * review findings). */
    def captureRun(fn: (SparkSession, String) => DataFrame,
        streamingRun: Boolean = false, warmup: Boolean = false)
        (fdir: String): Seq[String] = {
      if (warmup) fn(spark, fdir): Unit // unarmed warmup: lands land
      val q = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.execution.SparkPlan]()
      graft.plans.PlanCapture.streamingOffers.set(0)
      graft.plans.PlanCapture.sink = Some(q)
      try {
        fn(spark, fdir): Unit
        if (streamingRun &&
            graft.plans.PlanCapture.streamingOffers.get() == 0)
          throw new IllegalStateException("no micro-batch plan offered — " +
            "drain's reflective lastExecution stash is broken")
        import scala.jdk.CollectionConverters._
        (q.asScala.toSeq, q.isEmpty) match {
          case (plans, false) => plans.flatMap(corpusBroadcastFlags).distinct
          case (_, true) => throw new IllegalStateException(
            "no plan captured — the run never executed an auditable plan")
        }
      } finally graft.plans.PlanCapture.sink = None
    }
    // One scaffold for both at-factor audit classes (r17 review: the two
    // branches had drifted into near-identical 20-line copies). Each
    // entry starts from COLD caches: earlier audit entries' materialized
    // persists would make InMemoryRelation stats ACCURATE and mask the
    // lying-pre-materialization-stats defect class this audit exists to
    // catch (dd18's catch happened on cold caches exactly), and 30
    // executing audits otherwise accumulate persisted frames across the
    // walk (block-store payloads are bounded separately by the memory
    // envelope's disk demotion).
    def auditAtFactor(name: String, factors: Map[String, Int], kind: String)
        (body: String => Seq[String]): Option[(String, Int, Seq[String])] =
      factors.get(name).flatMap(f => factorDirs.get(f).map(f -> _)) match {
        case Some((f, fdir)) =>
          spark.catalog.clearCache()
          try Some((name, f, body(fdir)))
          catch {
            case scala.util.control.NonFatal(e) =>
              skipped += name -> (s"$kind failed at x$f: " +
                String.valueOf(e.getMessage).linesIterator.nextOption
                  .getOrElse("").take(120))
              None
          }
        case None =>
          skipped += name -> s"$kind (audit factor's dir not in this run)"
          None
      }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // s3 is s-NAMED but a lazy BATCH query (session_window over the
      // batch events read — the streaming session windows live in s8/s16):
      // excluded from the streaming match, it falls through to the
      // ordinary lazy audit at the main factor
      if (streaming.matches(name) && name != "s3_session_windows")
        // audit by CAPTURE at the base dir (factor 0, see
        // [[StreamingAuditFactor]]): micro-batch executions bypass query-
        // stage prep, so StreamingOps.drain offers each run's LAST
        // micro-batch executed plan to the armed sink; a run that captures
        // nothing is recorded as a failed skip by captureRun's throw
        streamingAudited ++= auditAtFactor(name,
          Map(name -> StreamingAuditFactor), "streaming harness")(
          // ONCE-PER-DIR streams (s10's file sink, s14's foreachBatch
          // merge cache their output dir and skip the stream on a second
          // same-JVM run) audit their single real run instead of a warmed
          // repeat — each audit runs in a fresh JVM, so that run always
          // executes and the capture stays deterministic
          captureRun(fn, streamingRun = true,
            warmup = !Set("s10_parquet_sink",
              "s14_foreachbatch_merge")(name)))
      else if (allowed(name))
        skipped += name -> "allow-listed deliberate broadcast (see audit source)"
      else if (SparkEntry.eagerQueries(name))
        // audit by CAPTURE: run the construction at the listed factor's
        // dir with the stage-prep hook armed, then flag-walk every plan
        // its actions executed (r17 — previously skipped outright). The
        // allow-list check above applies to eager names too, so a future
        // x35-class deliberate broadcast inside an eager construction has
        // an exemption path instead of forcing a detector change.
        eager ++= auditAtFactor(name, EagerAuditFactors,
          "eager construction")(captureRun(fn))
      else if (SparkEntry.constructionRunsCorpusJobs(name))
        // audit at the largest factor the construction survives instead
        // of skipping outright (r17) — these queries' plans at scale are
        // exactly the audit's target class
        construction ++= auditAtFactor(name, ConstructionAuditFactors,
          "construction")(fdir =>
          corpusBroadcastFlags(fn(spark, fdir).queryExecution.sparkPlan))
      // NOTE: serve/store-family queries whose construction LANDS an
      // index or store (sim15-22, mm7, x27/x31/x33) are audited on
      // purpose despite that build cost at ×64 — sim18's tombstone
      // broadcast was found exactly there; the build is minutes-bounded
      // (embeddings stay small under blow-up; the docs store land is one
      // pass) and the audit runs once per committed sweep. x44's build
      // ingests the full fact table in-memory, so it sits in
      // constructionRunsCorpusJobs and audits at ×16 via
      // [[ConstructionAuditFactors]] (its ×64 ingest OOM'd the r16
      // audit JVM).
      else {
        try {
          flagged ++= corpusBroadcastFlags(
            fn(spark, dir).queryExecution.sparkPlan).map(name -> _)
        } catch {
          case scala.util.control.NonFatal(e) =>
            // almost always "reads a table the docs/embeddings-only
            // blow-up dir lacks" — recorded, never silently dropped
            skipped += name -> s"unplannable at $dir: ${String.valueOf(e.getMessage).linesIterator.nextOption.getOrElse("").take(120)}"
        }
      }
    }
    ((flagged.result(), skipped.result()), construction.result(),
      eager.result(), streamingAudited.result())
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // no-arg default IS the committed recipe (r17 advice): a default that
    // fell short of it ran the whole multi-hour sweep, then refused to
    // write scale.json while still rewriting plan_audit.json from a
    // smaller-factor dir — the committed-artifact-clobber class again
    val factors = args.lift(1)
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(CommittedSweepFactors)
    // every growth check is relative to the ×1 base — without it the
    // artifact would print all-green flags that no check actually ran
    require(factors.headOption.contains(1) && factors == factors.sorted,
      s"factors must start at 1 and ascend (got ${factors.mkString(",")})")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session("graft-scale", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    measure = Measure.install(spark)
    val sfName = java.nio.file.Paths.get(baseDir).getFileName.toString
    val outRoot = s"/tmp/graft-scale-$sfName"
    // untimed setup: synthesize every factor's corpus, then the bench's
    // standard JVM/codegen warmups
    val dirs = factors.map(n => n -> ensureBlowup(spark, baseDir, outRoot, n)).toMap
    // relational tables at EVERY factor (r16): q29's sweep row reads them,
    // and the broadcast audit plans the q/x family at the largest one
    factors.foreach(n => ensureRelationalBlowup(spark, baseDir, outRoot, n))
    // the time-extended events feed for the s9_join_state row (capped at
    // the op's maxFactor — a ×64 feed would land unused)
    factors.filter(_ <= 32).foreach(n =>
      ensureEventsFeed(spark, baseDir, outRoot, n))
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      functions.Text.withTokens(
          Catalog.table(spark, baseDir, "documents").limit(64))
        .select(explode(col("_toks")).as("tok")).groupBy("tok").count()
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => }

    val opFilter = args.lift(2).map(_.split(",").map(_.trim).toSet)
    // MEDIAN-OF-N (r17): the committed sweep runs every row's
    // [stages → control → timed] block N times and commits the median-sec
    // repeat with all runs recorded (`sec_runs`/`control_runs`) — the old
    // "best of three full sweeps" both biased low and hid the per-row
    // spread. Repeats are honest re-measurements: timed() ends with
    // clearCache(), which also invalidates every operator-level memo
    // (they gate on Dataset.storageLevel), so each repeat rebuilds its
    // pipeline. Iteration runs default to 1 repeat; override with
    // SPARK_GRAFT_SCALE_RUNS.
    val repeats = sys.env.get("SPARK_GRAFT_SCALE_RUNS").map(_.toInt)
      .getOrElse(if (opFilter.isEmpty && factors == CommittedSweepFactors) 3
                 else 1)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    ops.filter(op => opFilter.forall(_.contains(op.name))).foreach { op =>
      // rows, cand, sec, spill, extras, controlSec @ ×1
      var base: Option[(Long, Long, Double, Long, Map[String, Long], Double)] =
        None
      factors.filter(_ <= op.maxFactor).foreach { n =>
        val dir = dirs(n)
        // NOTE on partitions: factor-scaled AQE initialPartitionNum (the
        // cluster posture "reducers scale with data") was A/B-measured
        // HERE and made ×32/×64 WORSE (dd6 ×64 spill 4.6 → 24 GB): on
        // local[32] concurrency is fixed, so more partitions buy only
        // per-task overhead, while per-partition memory was not the
        // binding constraint — the ×64 spill is the candidate-distinct
        // partial aggregate going external, which is linear and healthy
        // (see spillBound). Measured and declined: the sweep runs the
        // session's partition count.
        op.setup(spark, dir) // untimed artifact land (the bench discipline)
        // (the r15 stage-split edit dropped this call for two commits —
        // sim15's index land then billed into its timed serve window,
        // 0.67 → 2.30 s; caught by the second review pass)
        // named shared-artifact stages, each timed separately — `sec`
        // below prices the op's OWN stage only (see Op scaladoc). The
        // whole [stages → control → timed] block repeats `repeats` times;
        // the committed row is the MEDIAN-sec repeat with every run's
        // sec/control recorded alongside (r17).
        val runs = (1 to repeats).map { _ =>
          val stageMs: Seq[(String, Long)] = op.stages.map { case (nm, fn) =>
            val t0 = System.nanoTime()
            fn(spark, dir)
            nm -> (System.nanoTime() - t0) / 1000000L
          }
          val ctl = controlShuffleSec(spark)
          val m = timed(spark, op.query, dir)
          (stageMs, ctl, m)
        }
        val (stageMs, ctlSec, (rows, rec)) =
          runs.sortBy(_._3._2.seconds).apply(runs.size / 2)
        val sec = rec.seconds
        val r = rec.metrics
        val spill = r("spill").toLong
        val secRuns = runs.map(_._3._2.seconds)
        val ctlRuns = runs.map(_._2)
        val ctlRatio = if (ctlSec > 0) sec / ctlSec else -1.0
        val cand = op.candidates(spark, dir)
        val extras = op.extra(spark, dir)
        try spark.catalog.clearCache() catch { case _: Throwable => }
        if (n == 1) base = Some((rows, cand, sec, spill, extras, ctlSec))
        val (rowsTrack, candTrack, withinBound, spillOk, extraOk) = base match {
          case Some((r1, c1, s1, sp1, e1, ctl1)) =>
            (Scale.rowsTrack(op.name, op.model, n, r1, rows),
              Scale.candTrack(op.model, n, c1, cand),
              runtimeOk(op.model, n, n >= op.ioBoundFrom, s1, ctl1, sec, ctlSec),
              spill <= spillBound(op.model, n, sp1, cand),
              op.extraTrack(n, e1, extras))
          case None => (true, true, true, true, true)
        }
        val extraJson = {
          val kvs = stageMs.map { case (k, v) => s""""${k}_ms":$v""" } ++
            extras.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
          if (kvs.isEmpty) "" else kvs.mkString(",", ",", "")
            .stripSuffix(",")
        }
        // the record's keys beside the row's own (gc/spill are the row's
        // gc_sec/spill_bytes; an op extra of the same name wins)
        val recordJson = Measure.fields(r -- extras.keySet - "gc" - "spill")
        lines += s"""{"op":"${op.name}","factor":$n,"rows":$rows,""" +
          s""""candidates":$cand,"sec":$sec,"gc_sec":${r("gc")},""" +
          s""""shuffle_bytes":${(r("shuffle_read") + r("shuffle_write")).toLong},""" +
          s""""spill_bytes":$spill,$recordJson,""" +
          s""""control_sec":$ctlSec,"control_ratio":$ctlRatio,""" +
          s""""sec_runs":[${secRuns.mkString(",")}],""" +
          s""""control_runs":[${ctlRuns.mkString(",")}]""" +
          extraJson +
          s""","model":"${op.model}","rows_track_xN":$rowsTrack,""" +
          s""""cand_track_model":$candTrack,""" +
          s""""runtime_within_bound":$withinBound,""" +
          s""""spill_within_bound":$spillOk,"extra_within_bound":$extraOk}"""
        System.err.println(s"[scale] ${lines.last}")
      }
    }
    val json = lines.mkString("[", ",\n ", "]")
    println(json)
    // guard the artifact: an ops-filtered iteration run (or an
    // audit-only invocation with a filter matching nothing) must never
    // clobber the committed full sweep with a subset/empty array — the
    // r15 review caught exactly that committed once. The factors guard
    // (r15 ADVICE, tightened r16): an UNFILTERED run with any factors
    // list other than the committed sweep's ("1,32" passes a mere
    // max-depth check while silently dropping the ×8/×16/×64 rows) —
    // scale.json is written only from the exact committed recipe.
    if (opFilter.isEmpty && lines.nonEmpty &&
        factors == CommittedSweepFactors) {
      val out = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", ".") + "/scale.json").toAbsolutePath
      java.nio.file.Files.write(out,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      System.err.println(s"[scale] wrote $out")
    } else System.err.println(
      "[scale] filtered or shallow run — scale.json left untouched")
    // plan-shape audit at the LARGEST factor's file sizes (see
    // auditCorpusBroadcasts): a broadcast decision that survives GB-scale
    // inputs is an estimator defect, not a small-input optimization. The
    // artifact is only written from a ≥×32 run — at small factors benign
    // small-input broadcasts are the CORRECT planner choice and would
    // spuriously overwrite the committed flagged:[] (review finding).
    val biggest = dirs(factors.max)
    // factor 0 = the BASE testdata dir, for the streaming capture audit
    // (blowup dirs land directory layouts the file-stream globs exclude)
    val ((flagged, skipped), construction, eagerAudited, streamAudited) =
      auditCorpusBroadcasts(spark, biggest,
        dirs + (StreamingAuditFactor -> baseDir))
    def arr(xs: Seq[(String, String)], k: String) = xs.map { case (q, d) =>
      s"""{"query":"$q","$k":"${d.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
    }.mkString("[", ",", "]")
    // main-factor count excludes the construction, eager and streaming
    // queries (each audits at its own factor, reported separately below)
    val nAudited = SparkEntry.queries.size - skipped.size -
      construction.size - eagerAudited.size - streamAudited.size
    def atFactorArr(xs: Seq[(String, Int, Seq[String])]) =
      xs.map { case (q, f, fs) =>
        s"""{"query":"$q","factor":$f,"flags":[${fs.map(d =>
          "\"" + d.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
          .mkString(",")}]}"""
      }.mkString("[", ",", "]")
    val auditJson = "{\"dir\":\"" + biggest + "\"," +
      s""""audited":$nAudited,"flagged":${arr(flagged, "detail")},""" +
      s""""construction_audited":${atFactorArr(construction)},""" +
      s""""eager_audited":${atFactorArr(eagerAudited)},""" +
      s""""streaming_audited":${atFactorArr(streamAudited)},""" +
      s""""skipped":${arr(skipped, "reason")}}"""
    // ≥ the committed recipe's top factor (r17 advice — was ≥32, which
    // let a ×32 run silently replace the committed ×64 audit) AND every
    // construction-audit factor's dir present (r17 review: an audit-only
    // "1,64" run would otherwise overwrite the committed artifact with
    // construction_audited:[] — the same clobber class again). The
    // audit-only refresh recipe is therefore "1,16,32,64 none".
    val constructionCovered =
      (ConstructionAuditFactors.values ++ EagerAuditFactors.values)
        .forall(f => dirs.contains(f))
    if (factors.max >= CommittedSweepFactors.max && constructionCovered) {
      val auditOut = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", ".") + "/plan_audit.json").toAbsolutePath
      java.nio.file.Files.write(auditOut,
        (auditJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      System.err.println(s"[scale] corpus-broadcast audit: $nAudited audited, " +
        s"${flagged.size} flagged, ${construction.size} construction-audited " +
        s"(${construction.map(_._3.size).sum} flags), " +
        s"${eagerAudited.size} eager-audited " +
        s"(${eagerAudited.map(_._3.size).sum} flags), " +
        s"${streamAudited.size} streaming-audited " +
        s"(${streamAudited.map(_._3.size).sum} flags), " +
        s"${skipped.size} skipped → $auditOut")
    } else System.err.println("[scale] corpus-broadcast audit (artifact " +
      s"NOT written — needs factor ${CommittedSweepFactors.max} plus the " +
      s"construction/eager-audit dirs ${(ConstructionAuditFactors.values ++
        EagerAuditFactors.values).toSeq
        .distinct.sorted.mkString("x", "/x", "")}): " +
      s"${flagged.size} flagged of $nAudited")
    eagerAudited.filter(_._3.nonEmpty).foreach { case (q, f, fs) =>
      fs.foreach(d => System.err.println(s"[scale]   (eager x$f) $q: $d")) }
    construction.filter(_._3.nonEmpty).foreach { case (q, f, fs) =>
      fs.foreach(d => System.err.println(s"[scale]   (constr x$f) $q: $d")) }
    streamAudited.filter(_._3.nonEmpty).foreach { case (q, f, fs) =>
      fs.foreach(d => System.err.println(s"[scale]   (stream base) $q: $d")) }
    flagged.foreach { case (q, d) => System.err.println(s"[scale]   $q: $d") }
    spark.stop()
  }
}
