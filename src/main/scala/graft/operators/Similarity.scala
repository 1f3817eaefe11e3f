package graft.operators

import graft.Catalog
import graft.Sql.asLong
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two surfaces (SURVEY.md §2D LLM-pipeline row):
  *   - brute-force cosine top-k: exact baseline. Probes are broadcast; the
  *     big side streams once through the scan stage, so cost is
  *     O(|probes| x N) FLOPs with zero shuffle of the vector table.
  *   - IVF-style partitioned top-k: `label` plays the role of the coarse
  *     quantizer cell (nprobe=1). The join is an equi-join on the cell id,
  *     so at 100 TB each task only scans its cell's vectors — the standard
  *     ANN partition-pruning shape (a real IVF would add a k-means
  *     assignment step producing exactly this layout).
  *
  * PROBE-CARDINALITY CONTRACT: the probe set is a FIXED BUDGET of
  * `ProbeCount` vectors (`vec_id < ProbeCount`), NOT a fraction of the
  * corpus — |probes| is a constant independent of N. That is what makes
  * `broadcast(probes)` legitimate (ProbeCount x (64 doubles + ids) ≈ a few
  * KB at any corpus size) and bounds sim1's exact baseline at O(K·N) FLOPs
  * rather than O(N²/c). A production query set arrives as its own small
  * table and replaces the filter; the broadcast stays valid as long as the
  * query set, not the corpus, bounds it.
  *
  * Dot products are computed as ordered folds over the array (elements cast
  * to double first), which both Spark and the DuckDB oracle evaluate
  * identically; the reported cosine is rounded to 6 decimals.
  */
object Similarity {

  private val ProbeCount = 10

  /** A by-id-range slice with its cardinality bound made STRUCTURAL:
    * vec_ids are dense from 0, so the `limit(n)` is an identity on the
    * rows the filter already selects — but it puts the bound INTO THE
    * PLAN. That is what makes the probe/centroid `broadcast(...)` and
    * cross-join shapes legitimate at ANY corpus size (the build side is
    * provably ≤ n rows, not "a filter we promise is small"), and lets
    * the corpus-broadcast audit (`Scale.auditCorpusBroadcasts`, run at
    * the ×64 corpus) prove it instead of trusting a comment (r15).
    * `rowsPerId` sizes the limit for frames carrying several rows per
    * vec_id (sim12's banded frame) — the limit must admit ALL of a
    * bounded id's rows to stay an identity. */
  private def idBound(df: DataFrame, n: Int, rowsPerId: Int = 1): DataFrame =
    df.filter(col("vec_id") < n).limit(n * rowsPerId)
  private val TopK = 5
  private val IvfTopK = 3

  /** float→double widening as a native array Cast (whole-stage codegen;
    * elementwise-identical to the `transform(c, _.cast(double))` HOF it
    * replaced, which evaluated interpreted with a per-row allocation in
    * every sim query's scan stage). */
  private def toD(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Ordered left-fold dot product — deterministic across engines. Uses the
    * codegen'd [[graft.expr.DoubleVectorDot]] (registered per session);
    * bit-identical to the interpreted
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` fold it replaces. */
  private def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  private[graft] def emb(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExpressions.register(spark)
    Catalog.tableSpread(spark, dir, "embeddings")
      .select(col("vec_id"), toD(col("embedding")).as("e"), col("label"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .filter(col("nrm") > 0) // zero vectors have no cosine; Divide null vs NaN differs cross-engine
  }

  private def topk(pairs: DataFrame, k: Int): DataFrame = {
    val cos = dot(col("qe"), col("e")) / (col("qnrm") * col("nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    pairs
      .withColumn("cos", cos)
      .withColumn("rank", asLong(row_number().over(w)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Exact brute-force cosine top-k for a deterministic probe subset. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val pairs = all.crossJoin(broadcast(probes)).filter(col("vec_id") =!= col("query_id"))
    topk(pairs, TopK)
  }

  // ---- sim23: MMR diversified top-k --------------------------------------

  private[graft] val MmrC = 8   // candidate pool per probe (relevance top-C)
  private[graft] val MmrK = 4   // diversified results per probe

  /** sim23: MAXIMAL-MARGINAL-RELEVANCE re-rank — the retrieval × dedup
    * composition RAG serving actually needs: a plain top-k returns
    * near-duplicate passages (the corpus HAS near-dups — dd5 finds them),
    * MMR greedily picks k of the top-C candidates maximizing
    * `0.5·rel − 0.5·max_sim_to_already_selected` so each pick adds new
    * information. Selection arithmetic is pure IEEE ops on the SAME
    * ordered-fold cosines both engines compute bit-identically (the
    * sim1/dd5 discipline), with vec_id tie-breaks, so the greedy argmax
    * agrees step by step; the oracle replays it as a recursive CTE.
    *
    * SCALE SHAPE (r12 verdict ask #3): candidate generation is the LANDED
    * index's serve path — probed-cell candidates off the dictionary-pruned
    * code store, refined to EXACT cosines ([[landedRefined]], the sim19
    * architecture) and cut to relevance top-C. The registered plan scans
    * only the probed cells' blocks; nothing corpus-sized is ranked. The
    * exact corpus×probes crossJoin survives as [[mmrCandidatesExact]], the
    * audited baseline arm the spec compares against. The re-rank itself
    * touches |probes|·C candidates and |probes|·C²/2 pairwise sims — both
    * BOUNDED by the probe budget, so the greedy loop is driver-side by
    * design (the sim9 bounded-scoring pattern), never a corpus-sized
    * collect. */
  def mmrTopK(spark: SparkSession, dir: String): DataFrame =
    mmrOver(spark, landedMmrCandidates(spark, dir))

  /** sim23's serving candidate stage: landed-index probed cells, exact
    * refine, relevance top-C per probe — (query_id, cand_id, rel, e, nrm). */
  private[graft] def landedMmrCandidates(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    landedRefined(spark, dir, identity)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrC)
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("cos").as("rel"), col("e"), col("nrm"))
  }

  /** The exact corpus×probes baseline arm (pre-r13 registered shape) —
    * kept for the spec's serve-vs-exact comparison; the declared-cross
    * contract (bounded probe broadcast) still applies. */
  private[graft] def mmrCandidatesExact(spark: SparkSession,
      dir: String): DataFrame = {
    val all = emb(spark, dir)
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm"))
    val pairs = all.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    pairs
      .withColumn("rel", dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrC)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("rel"),
        col("e"), col("nrm"))
  }

  /** Greedy MMR selection over a bounded candidate frame (any arm). */
  private[graft] def mmrOver(spark: SparkSession,
      candFrame: DataFrame): DataFrame = {
    val cand = candFrame
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pairwise candidate sims IN-ENGINE via the same codegen'd ordered
      // fold (bounded: |probes| × C(C,2) rows)
      val a = cand.select(col("query_id"), col("cand_id").as("a"),
        col("e").as("ea"), col("nrm").as("na"))
      val b = cand.select(col("query_id"), col("cand_id").as("b"),
        col("e").as("eb"), col("nrm").as("nb"))
      val sims = a.join(b, Seq("query_id")).filter(col("a") < col("b"))
        .withColumn("sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .select(col("query_id"), col("a"), col("b"), col("sim"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
        .toMap
      val rels = cand.select(col("query_id"), col("cand_id"), col("rel"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
      def simOf(q: Long, x: Long, y: Long): Double =
        if (x < y) sims((q, x, y)) else sims((q, y, x))
      val out = rels.toSeq.sortBy(_._1).flatMap { case (q, cs) =>
        val pool = scala.collection.mutable.Map(
          cs.map(c => c._2 -> c._3).toSeq: _*)
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
        // stop when the pool runs dry (a sparse probed cell can hold
        // fewer than MmrK candidates — the recursive-CTE oracle emits
        // min(|pool|, k) ranks, and maxBy over an empty pool throws).
        // A while loop, not Range.takeWhile: the Range is strict, so its
        // predicate would be evaluated for every step BEFORE the map
        // body starts removing candidates.
        val picks =
          scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        var step = 1
        while (step <= MmrK && pool.nonEmpty) {
          // greedy argmax of 0.5·rel − 0.5·max sim-to-chosen, vec_id ties
          val (bestId, bestScore) = pool.keys.toSeq.sorted.map { c =>
            val maxSim =
              if (chosen.isEmpty) 0.0
              else chosen.iterator.map(s => simOf(q, c, s)).max
            val score =
              if (chosen.isEmpty) pool(c)
              else 0.5 * pool(c) - 0.5 * maxSim
            (c, score)
          }.maxBy { case (c, sc) => (sc, -c) }
          pool.remove(bestId): Unit
          chosen += bestId
          // HALF_UP to 6dp — the same rounding Spark's round() and
          // DuckDB's round() apply (rint would tie-break half-to-even)
          picks += org.apache.spark.sql.Row(q, step.toLong, bestId,
            java.math.BigDecimal.valueOf(bestScore)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
          step += 1
        }
        picks
      }
      val schema = StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("rank", LongType, nullable = false),
        StructField("cand_id", LongType, nullable = false),
        StructField("mmr_score", DoubleType, nullable = false)))
      spark.createDataFrame(
        java.util.Arrays.asList(out.toIndexedSeq: _*), schema)
        .orderBy("query_id", "rank")
    } finally cand.unpersist(): Unit
  }

  /** ANN scale path: search only the probe's cell (label = IVF cell id). */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm"), col("label").as("qlabel"))
    val pairs = all.join(broadcast(probes),
      col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
    topk(pairs, IvfTopK)
  }

  // ---- sim3: random-hyperplane LSH bucketing ------------------------------
  // The fixed hyperplane family lives in graft.expr.RandomHyperplanes
  // (shared with the LshBucketRewrite optimizer rule, so sim3's hand-written
  // plan and sim4's rule-derived plan bucket identically) and is embedded as
  // LITERALS in both the Spark plan and the oracle SQL — bit-identical by
  // construction, no cross-engine hash parity needed. 6 planes ≈ 64 buckets:
  // at corpus scale the bucket is the shuffle key and expected bucket size
  // is N/64 — the candidate set per probe is ~1.5% of brute force, and more
  // planes tighten it further.
  private val NumPlanes = graft.expr.RandomHyperplanes.NumPlanes
  private val Planes: Seq[Array[Double]] = graft.expr.RandomHyperplanes.Planes

  /** LSH-bucketed ANN: probes search only their sign-signature bucket.
    * The signature is 6 codegen'd vec_dot sign bits — one map-side pass;
    * candidate generation is an equi-join on the signature. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    val sig = (0 until NumPlanes).map { j =>
      when(dot(col("e"), typedlit(Planes(j).toSeq)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val withSig = all.withColumn("sig", sig)
    val probes = idBound(withSig, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    val pairs = withSig.join(broadcast(probes),
      col("sig") === col("qsig") && col("vec_id") =!= col("query_id"))
    topk(pairs, IvfTopK)
  }

  // ---- sim20: Johnson-Lindenstrauss random projection -------------------

  private[graft] val ProjDims = 16

  /** Rademacher ±1 projection rows, drawn from the hyperplane family's
    * deterministic generator at a disjoint index range (j ≥ 100 ⇒ global
    * indices ≥ 6400, far past the 18×64 the LSH families consume) — like
    * the planes, these are LITERALS in both engines' plans. */
  // lazy: references Dims, declared further down — a strict val here
  // reads 0 during object init (the Sim11-oracle lesson) and the planes
  // would silently be EMPTY
  private[graft] lazy val ProjPlanes: Seq[Array[Double]] =
    (0 until ProjDims).map(j => Array.tabulate(Dims)(i =>
      if (graft.expr.RandomHyperplanes.planeVal(100 + j, i) >= 0) 1.0 else -1.0))

  /** sim20: RANDOM-PROJECTION top-k — Johnson–Lindenstrauss dimensionality
    * reduction (Achlioptas 2003's database-friendly ±1 matrix): every
    * vector is projected 64 → [[ProjDims]] dims map-side (16 codegen
    * vec_dots against literal Rademacher rows), ranking runs on the
    * PROJECTED cosine (4× cheaper per pair, and at 100 TB the projected
    * index is 4× smaller to store/shuffle), and each reported pair also
    * carries its TRUE cosine — so the output doubles as the distortion
    * report JL guarantees bound (‖cos_p − cos‖ concentrated near 0 for
    * k = 16). The projection composes with every downstream ANN op (cells,
    * bands, PQ) — this query registers the baseline: exact search in the
    * reduced space over the bounded probe set (broadcast, the sim1
    * whitelisted-cross contract).
    *
    * SCALE SHAPE: projection is one map-side pass inside the scan
    * (whole-stage codegen, no shuffle); per-pair scoring touches 16 dims
    * instead of 64; the true-cosine column is the refine join's cost,
    * paid only on the k reported pairs per probe. */
  def randomProjectionTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
      .withColumn("p", array((0 until ProjDims).map(j =>
        dot(col("e"), typedlit(ProjPlanes(j).toSeq))): _*))
      .withColumn("pnrm", sqrt(dot(col("p"), col("p"))))
      .filter(col("pnrm") > 0) // a cancelled-out projection has no cosine
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("p").as("qp"),
        col("pnrm").as("qpnrm"), col("e").as("qe"), col("nrm").as("qnrm"))
    val pairs = all.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .withColumn("proj_cos", dot(col("qp"), col("p")) / (col("qpnrm") * col("pnrm")))
      .withColumn("true_cos", dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("proj_cos").desc, col("vec_id"))
    pairs
      .withColumn("rank", asLong(row_number().over(w)))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("proj_cos"), 6).as("proj_cos"),
        round(col("true_cos"), 6).as("true_cos"))
      .orderBy("query_id", "rank")
  }

  /** sim20 mirror: the same literal ±1 rows expanded into the SQL text;
    * projected/true dots both via the list_sum ordered fold. */
  private lazy val Sim20Oracle: String = {
    def lst(a: Array[Double]): String =
      a.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val projExprs = ProjPlanes.map(r =>
      s"list_sum(list_transform(generate_series(1, $Dims), i -> ae[i] * (${lst(r)})[i]))")
      .mkString("[", ",\n         ", "]")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |           FROM embeddings),
       |n AS (SELECT vec_id, ae,
       |        sqrt(list_sum(list_transform(generate_series(1, $Dims), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |pj AS (SELECT vec_id, ae, nrm,
       |         $projExprs AS p
       |       FROM nz),
       |pn AS (SELECT vec_id, ae, nrm, p,
       |         sqrt(list_sum(list_transform(generate_series(1, $ProjDims), j -> p[j] * p[j]))) AS pnrm
       |       FROM pj),
       |pnz AS (SELECT * FROM pn WHERE pnrm > 0),
       |q AS (SELECT vec_id AS query_id, p AS qp, pnrm AS qpnrm, ae AS qe, nrm AS qnrm
       |      FROM pnz WHERE vec_id < $ProbeCount),
       |pairs AS (SELECT q.query_id, n.vec_id,
       |            list_sum(list_transform(generate_series(1, $ProjDims), j -> qp[j] * n.p[j]))
       |              / (q.qpnrm * n.pnrm) AS proj_cos,
       |            list_sum(list_transform(generate_series(1, $Dims), i -> qe[i] * n.ae[i]))
       |              / (q.qnrm * n.nrm) AS true_cos
       |          FROM pnz n JOIN q ON n.vec_id <> q.query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                      ORDER BY proj_cos DESC, vec_id) AS rank
       |           FROM pairs)
       |SELECT query_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |       round(proj_cos, 6) AS proj_cos, round(true_cos, 6) AS true_cos
       |FROM ranked WHERE rank <= $IvfTopK ORDER BY query_id, rank""".stripMargin
  }

  // ---- sim11: IVF multi-probe ------------------------------------------
  private[graft] val NProbe = 3

  /** sim11: IVF MULTI-PROBE top-k — the standard remedy for sim2's
    * single-probe recall collapse (sim9 measures it near zero on
    * structure-free embeddings: the true neighbors of a probe are spread
    * over ALL cells, and one cell holds ~1/|cells| of them). Each probe
    * searches the [[NProbe]] cells whose centroids lie nearest its vector
    * PLUS its own cell (so the candidate set is a strict superset of
    * sim2's) — still nothing but equi-joins, with ~(NProbe+1)/|cells| of
    * the corpus scanned per probe instead of 1/|cells|.
    *
    * Cell ranking is EXACT INTEGER arithmetic so both engines pick
    * identical cells: vectors are quantized to the sim5 int8 grid, cell
    * centroids kept as (BIGINT component sums s_d, count n), and the
    * probe-to-centroid distance compared via the n²-scaled form
    * `Σ_d (n·q_d − s_d)²` — BIGINT-exact, no float mean ordering to
    * disagree on (the sim8 exact-centroid discipline). The n² scaling
    * bounds the exact form to ~1.5×10^6 vectors per cell before BIGINT
    * overflow (worst case each term is (254n)², so 64·(254n)² ≤ 2^63 ⇒
    * n ≤ 1.49×10^6); a production deployment at larger cell sizes drops
    * to double means (cell CHOICE needs no bit-exactness outside this
    * verification harness).
    *
    * SCALE SHAPE: cell stats are one partial-aggregated groupBy over
    * (cell, dim) — |cells|·64 rows; scoring joins the per-dim probe
    * expansion (|probes|·64 rows) against them on dim; candidate
    * generation is the sim2 equi-join with an exploded (probe, cell) pair
    * list broadcast instead of one cell per probe. At 100 TB the fact scan
    * still reads only the probed cells' partitions. */
  /** (query_id, clabel) pairs: the `nProbe` nearest cells by the exact
    * integer centroid metric, unioned with the probe's own cell — shared by
    * sim11 (exact rescoring), sim13 (ADC rescoring), and sim14 (the
    * recall-bar configuration at [[BarNProbe]]). */
  /** Embedding dimensionality — fixed by the data contract (64-dim float
    * vectors, TESTDATA.md); the cell-stats aggregate below is generated at
    * plan-build time, so the width must be known up front. */
  private val Dims = 64

  private def multiProbeCells(all: DataFrame, nProbe: Int = NProbe): DataFrame = {
    // int8 grid, kept as LONG via the codegen vec_quant127 (bit-identical
    // to the interpreted transform/floor chain it replaced — the r10 perf
    // fix): the centroid math below must stay integer-exact.
    val quant = all.withColumn("q", call_function("vec_quant127", col("e")))
    // Cell stats in ONE corpus pass: posexplode the codegen-quantized
    // array inside the scan stage (Generate → partial HashAggregate is
    // pipelined, so the SHUFFLE carries only |cells|×64×partitions small
    // longs — the explosion never crosses a stage boundary) and collect
    // the bounded |cells|×64 stats grid. The r10 perf weakness was the
    // interpreted 3-HOF quantizer feeding this plus a join/groupBy/window
    // scoring chain; scoring is now driver-side (below).
    val cells = collectCellStats(quant)
    val probeRows = idBound(quant, ProbeCount)
      .select(col("vec_id"), col("label"), col("q")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val out = nearestCells(cells, probeRows, nProbe)
      .map { case (qid, lb) => org.apache.spark.sql.Row(qid, lb) }
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("clabel", IntegerType, nullable = false)))
    all.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.toIndexedSeq: _*), schema)
  }

  /** Per-cell exact stats (label, member count, per-dim BIGINT component
    * sums) collected from one pipelined Generate → partial-agg corpus
    * pass — the bounded |cells|×[[Dims]] grid both sim11's cell selection
    * and sim15's index LANDING consume. */
  private def collectCellStats(quant: DataFrame): Array[(Int, Long, Array[Long])] =
    quant
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("cn"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).toArray.map { case (lb, ds) =>
        require(ds.length == Dims, s"expected $Dims-dim cell stats for $lb")
        val s = new Array[Long](Dims)
        ds.foreach { case (_, d, sv, _) => s(d) = sv }
        (lb, ds.head._4, s)
      }

  /** Driver-side argmin over the bounded |probes| x |cells| grid (the
    * sim9 bounded-driver-scoring pattern; |cells| and |probes| are both
    * constants — see the probe-cardinality contract above). Arithmetic
    * and tie-breaks replicate the r10 plan exactly: n²-scaled BIGINT
    * distance Σ_d (cn·q_d − s_d)², ascending (score, label); the probe's
    * own cell is unioned in. */
  private def nearestCells(cells: Array[(Int, Long, Array[Long])],
      probes: Array[(Long, Int, Array[Long])],
      nProbe: Int): Array[(Long, Int)] =
    probes.flatMap { case (qid, own, q) =>
      val scored = cells.map { case (lb, cn, s) =>
        var acc = 0L
        var d = 0
        while (d < Dims) {
          val t = cn * q(d) - s(d)
          acc += t * t
          d += 1
        }
        (acc, lb)
      }
      val nearest = scored.sortBy(identity).take(nProbe).map(_._2)
      (nearest :+ own).distinct.map(lb => (qid, lb))
    }.distinct

  /** Driver-side int8-grid quantization — bit-identical to the codegen
    * [[graft.expr.Int8GridQuantize]] (same IEEE operation order), used by
    * sim15 to quantize the bounded probe set without a Spark job. */
  private def quantize127(e: Array[Double]): Array[Long] = {
    var m = 0.0
    var i = 0
    while (i < e.length) {
      val av = java.lang.Math.abs(e(i)); if (av > m) m = av; i += 1
    }
    val out = new Array[Long](e.length)
    i = 0
    while (i < e.length) {
      out(i) = java.lang.Math.floor(e(i) * 127.0 / m + 0.5).toLong
      i += 1
    }
    out
  }

  def ivfMultiProbeTopK(spark: SparkSession, dir: String): DataFrame =
    withEmb(spark, dir)(all => ivfMultiProbe(all, multiProbeCells(all)))

  /** Shared eager lifecycle (the sim8 pattern) for the multi-scan ANN
    * queries: the embedding frame (parquet scan + norm) is persisted ONCE,
    * `build`'s plan consumes the cached copy everywhere it appears, the
    * bounded (|probes| x k or |methods| x |probes|) result is collected,
    * and the cache is released in the finally — so no pinned frame
    * outlives the method and a caller needs no harness clearCache. Without
    * this, sim9's six arms re-derived scan+norm ~8-10x per evaluation (the
    * round-7 driver artifact measured the redundancy at 11x committed
    * time under late-session GC pressure). */
  private def withEmb(spark: SparkSession, dir: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val all = emb(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = build(all)
      spark.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { all.unpersist(): Unit }
  }

  // ---- sim14: the recall-BAR configuration -----------------------------
  /** The multi-probe budget that CLEARS the acceptance bar on the sim9
    * fixture: with |cells| = 10 roughly-uniform cells, probing
    * [[BarNProbe]] + own = 7 cells bounds the candidate fraction at ~0.7
    * of the corpus, and on structure-free embeddings (recall ≈ candidate
    * fraction — there is nothing for the quantizer to exploit, the
    * information-theoretic floor sim9 exposes) that measures recall ≈ 0.7,
    * comfortably over the 0.5 bar [[recallBar]] ships with. sim11's
    * NProbe = 3 is the TRADE point (0.3 recall at 0.4 of the corpus);
    * sim14 is the ACCEPTANCE point a retrieval deployment would pick —
    * the parameter sweep the sim9 scaladoc promises ("tuned until recall
    * clears a bar"), now registered end-to-end. On clustered production
    * embeddings the same bar clears at far smaller fractions; the fixture
    * is the worst case. */
  private[graft] val BarNProbe = 6
  private[graft] val RecallBar = 0.5

  /** sim14: per-probe recall of the [[BarNProbe]]-probe IVF configuration
    * against exact brute force — same evaluation shape as sim9's arms,
    * one arm, the registered proof that a recall ≥ [[RecallBar]]
    * configuration exists (SimilaritySpec asserts the bar AND the
    * candidate-fraction bound). Eager shared-frame lifecycle; the exact
    * and approximate |probes| x k id sets are intersected driver-side
    * (the sim9 harness shape — both arm jobs submitted concurrently). */
  def recallBar(spark: SparkSession, dir: String): DataFrame =
    withEmb(spark, dir) { all =>
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      all.count()
      val probes = idBound(all, ProbeCount)
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
      def pairs(df: DataFrame): Array[(Long, Long)] =
        df.select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      val fExact = Future(pairs(topk(
        all.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("query_id")), IvfTopK)))
      val fApprox = Future(pairs(ivfMultiProbe(all, multiProbeCells(all, BarNProbe))))
      val scored = recallRows(
        Await.result(fExact, Duration.Inf), Await.result(fApprox, Duration.Inf))
      val schema = StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("n_exact", LongType, nullable = false),
        StructField("n_hits", LongType, nullable = false),
        StructField("recall", DoubleType, nullable = false)))
      spark.createDataFrame(java.util.Arrays.asList(scored.map {
        case (q, n, h, r) => org.apache.spark.sql.Row(q, n, h, r)
      }: _*), schema).orderBy("query_id")
    }

  /** sim11 body over precomputed pieces — sim9 shares one cell-selection
    * job across its ivf_multi and ivf_pq arms instead of re-running it. */
  private def ivfMultiProbe(all: DataFrame, cells: DataFrame): DataFrame = {
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val pairs = all.join(
      broadcast(probes.join(cells, Seq("query_id"))),
      col("label") === col("clabel") && col("vec_id") =!= col("query_id"))
    topk(pairs, IvfTopK)
  }

  // ---- sim12: multi-band sign-LSH --------------------------------------
  private val NumBands = graft.expr.RandomHyperplanes.NumBands
  private val BandBits = graft.expr.RandomHyperplanes.BandBits
  private val BandedPlanes: Seq[Array[Double]] = graft.expr.RandomHyperplanes.BandedPlanes

  /** sim12: MULTI-BAND sign-LSH top-k — the dd3 banding pattern applied to
    * sim3's single signature (whose all-6-bits-must-match collision
    * probability sim9 measures near zero on the fixture). [[NumBands]]
    * independent [[BandBits]]-bit signatures per vector; a pair is a
    * candidate if ANY band matches. Band 0 is exactly sim3's signature
    * ([[graft.expr.RandomHyperplanes.BandedPlanes]] runs the same
    * generator on past it), so sim12's candidates are a SUPERSET of
    * sim3's by construction; per-band selectivity stays N/2^bits and the
    * OR costs at most [[NumBands]]x the candidates.
    *
    * SCALE SHAPE: the banded index is the standard LSH table layout —
    * [[NumBands]] rows of (band, sig, vec_id) per vector, generated
    * map-side; candidate generation is an equi-join on the composite key
    * (band, sig) against the broadcast probe bands; a pair matching in
    * several bands is deduplicated on (query_id, vec_id) BEFORE the
    * cosine join, so rescoring cost is per-candidate, not per-collision. */
  def bandLshTopK(spark: SparkSession, dir: String): DataFrame =
    bandLsh(emb(spark, dir))

  /** sim12 body over the shared embedding frame — sim9 passes its
    * persisted corpus instead of re-deriving scan+norm from the dir. */
  /** (vec_id, band, sig) for every vector of `all` (an [[emb]]-shaped
    * frame): [[NumBands]] rows per vector, signatures map-side from the
    * shared [[BandedPlanes]] — sim12's LSH table, split out for reuse.
    * (dd16's dedup sweep uses its own 48-band family computed via a
    * plane-table cross join — see `Dedup.semanticDedupCandidates` — so
    * the two probe shapes stay independently tuned.) */
  private[graft] def bandedSignatures(all: DataFrame): DataFrame = {
    def bandSig(b: Int): Column =
      (0 until BandBits).map { i =>
        val j = b * BandBits + i
        when(dot(col("e"), typedlit(BandedPlanes(j).toSeq)) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    val bandRows = array((0 until NumBands).map(b =>
      struct(lit(b).as("band"), bandSig(b).as("sig"))): _*)
    all
      .select(col("vec_id"), explode(bandRows).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  private def bandLsh(all: DataFrame): DataFrame = {
    val banded = bandedSignatures(all)
    // the banded frame carries NumBands rows per vec_id — the structural
    // bound must admit all of a probe's bands (a bare limit(ProbeCount)
    // silently truncated 3/4 of the probe bands: r15's first cut, caught
    // by the oracle gate)
    val probeBands = idBound(banded, ProbeCount, rowsPerId = NumBands)
      .select(col("vec_id").as("query_id"), col("band").as("qband"),
        col("sig").as("qsig"))
    val cand = banded.join(broadcast(probeBands),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val pairs = cand
      .join(all, Seq("vec_id"))
      .join(broadcast(probes), Seq("query_id"))
    topk(pairs, IvfTopK)
  }

  /** sim4: the NAIVE pair query — no signature column, no equi-key, just
    * the `lsh_candidates` marker in the join condition — lowered by the
    * [[graft.plans.LshBucketRewrite]] optimizer rule into the same
    * sign-LSH bucket equi-join sim3 writes by hand (same
    * [[graft.expr.RandomHyperplanes]], so the result — and the oracle — is
    * IDENTICAL to sim3's). Without the rule the marker is literal `true`
    * and this would be the exact O(K·N) baseline; the spec asserts the
    * rewritten physical plan contains a hash join and no nested-loop. */
  def lshRewriteTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.LshBucketRewrite.register(spark)
    val all = emb(spark, dir)
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val pairs = all.join(probes,
      call_function("lsh_candidates", col("e"), col("qe")) &&
        col("vec_id") =!= col("query_id"))
    topk(pairs, IvfTopK)
  }

  /** sim5: top-k over INT8-QUANTIZED vectors — the storage-compression ANN
    * path (4x smaller vectors than float32; at 100 TB the index fits where
    * the raw embeddings do not). Per-vector symmetric quantization
    * `q_i = floor(x_i * 127 / max|x| + 0.5)` (floor(+0.5) == round-half-up
    * in BOTH engines — `round()` itself ties-to-even differently across
    * engines, so it is avoided); cosine is computed directly on the
    * quantized integers (the per-vector scale cancels in the cosine), so
    * ranking error comes only from the quantization grid. Probe budget and
    * plan shape are sim1's. */
  def int8TopK(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExpressions.register(spark)
    // codegen quantizer (bit-identical to the floor(x*127/max|x| + 0.5)
    // HOF chain — see Int8GridQuantize), widened back to exact small
    // doubles by a native array Cast: Spark's floor yields LongType while
    // DuckDB's yields DOUBLE, so both engines carry the grid as doubles
    val q = call_function("vec_quant127", col("e")).cast(ArrayType(DoubleType))
    val all = Catalog.tableSpread(spark, dir, "embeddings")
      .select(col("vec_id"), toD(col("embedding")).as("e"), col("label"))
      // an all-zero vector makes m = 0 and every quantized component
      // 0*127/0 = NaN — and BOTH engines order NaN > 0 as true (Spark
      // nanSafeCompare, DuckDB NaN-high), so NaN cosines would leak into
      // the top-k. Drop zero vectors BEFORE quantizing: vec_dot(e, e) > 0
      // is exactly max|x| > 0 on finite doubles (squares cannot underflow
      // to 0 in double and non-negative terms cannot cancel), evaluated
      // codegen instead of the interpreted array_max(transform(abs)) HOF.
      .filter(call_function("vec_dot", col("e"), col("e")) > 0)
      .withColumn("q", q)
      .withColumn("nrm", sqrt(call_function("vec_dot", col("q"), col("q"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("q").as("e"), col("nrm"))
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val pairs = all.crossJoin(broadcast(probes)).filter(col("vec_id") =!= col("query_id"))
    topk(pairs, TopK)
  }

  /** sim9: ANN quality evaluation — recall@k of the engine's three
    * approximate searches (sim2's IVF cell equi-join, sim3's sign-LSH
    * bucket equi-join, sim10's product-quantized ADC scan) against the
    * exact brute-force top-k at the same k.
    * Per (method, probe): the exact neighbor count, how many of those the
    * approximate search returned, and the recall ratio — the acceptance
    * metric an ANN index ships with (cells / planes / nprobe are tuned
    * until recall clears a bar). On the synthetic fixture the metric
    * DISCRIMINATES: the bucketing methods score near zero (embeddings
    * drawn without cluster structure are exactly where single-probe
    * bucketing fails) while PQ — which approximates the score itself
    * instead of pruning candidates — scores ~5x higher at the same k;
    * that ranking is what an evaluation harness exists to expose.
    *
    * SCALE SHAPE: every arm inherits its audited plan from
    * sim1/sim2/sim3/sim10 — the probe set is the FIXED budget (see the
    * probe-cardinality
    * contract above), so ground truth costs ONE brute-force corpus pass
    * per evaluation and each approximate arm one equi-join; everything
    * downstream of the top-k's is |probes| x k rows. Ranks share one
    * deterministic total order (cos DESC, vec_id), so the intersected id
    * sets — unlike raw cosine floats — are engine-portable without
    * rounding concerns.
    *
    * HARNESS SHAPE (round 8): the arms are INDEPENDENT jobs over one
    * persisted corpus, so the evaluation submits them CONCURRENTLY
    * (standard multi-job Spark scheduling; the only inter-arm edges are
    * cells → {ivf_multi, ivf_pq} and codes → {pq, ivf_pq}, expressed as
    * Future chains) and intersects the |probes| x k id sets driver-side —
    * a bounded |methods| x |probes| x k computation that replaces six
    * sequential join-plans worth of per-job latency. Each arm's PLAN is
    * byte-identical to its registered sim2/sim3/sim10/sim11/sim12/sim13
    * counterpart; only the submission schedule changed. At sf0.1 this
    * took the evaluation from ~8 s (sequential arms + one six-branch
    * union mega-plan) to roughly the cost of the slowest arm. */
  def recallAtK(spark: SparkSession, dir: String): DataFrame = {
    // Eager lifecycle (the sim8 pattern): the embedding frame and the
    // PQ-code index are persisted once and materialized BEFORE the
    // concurrent arms fan out (persist is race-safe, but materializing
    // up front keeps every arm reading cache instead of one computing
    // while five block). Every pinned frame is released in the finally.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val all = emb(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // AtomicReference, not a plain var: written from the fIdx Future's
    // thread and read in the finally — if an EARLIER await throws while
    // fIdx is still encoding, a plain var has no happens-before edge and
    // the finally could miss the persisted index (session-lifetime cache
    // leak on the failure path)
    val pqIdx =
      new java.util.concurrent.atomic.AtomicReference[Option[DataFrame]](None)
    try {
      all.count()
      val probes = idBound(all, ProbeCount)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qnrm"), col("label").as("qlabel"))
      def pairs(df: DataFrame): Array[(Long, Long)] =
        df.select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      // ground truth: one brute-force corpus pass, |probes| x k rows
      val fExact = Future(pairs(topk(
        all.crossJoin(broadcast(probes.drop("qlabel")))
          .filter(col("vec_id") =!= col("query_id")), IvfTopK)))
      val fIvf = Future(pairs(topk(
        all.join(broadcast(probes),
          col("label") === col("qlabel") && col("vec_id") =!= col("query_id")), IvfTopK)))
      val fLsh = Future {
        val sig = (0 until NumPlanes).map { j =>
          when(dot(col("e"), typedlit(Planes(j).toSeq)) >= 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        val withSig = all.withColumn("sig", sig)
        val lshProbes = idBound(withSig, ProbeCount)
          .select(col("vec_id").as("query_id"), col("e").as("qe"),
            col("nrm").as("qnrm"), col("sig").as("qsig"))
        pairs(topk(
          withSig.join(broadcast(lshProbes),
            col("sig") === col("qsig") && col("vec_id") =!= col("query_id")), IvfTopK))
      }
      val fBands = Future(pairs(bandLsh(all)))
      // shared index-build work: ONE cell-selection job (LocalRelation for
      // its two consumers), ONE codebook collect, ONE persisted PQ encode
      // consumed by both the pq and ivf_pq arms
      val fCells = Future {
        val c = multiProbeCells(all)
        spark.createDataFrame(java.util.Arrays.asList(c.collect(): _*), c.schema)
      }
      val fIdx = Future {
        val cb = pqCodebook(all)
        val idx = pqIndex(all, cb)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pqIdx.set(Some(idx))
        idx.count()
        (cb, idx)
      }
      val fIvfMulti = fCells.map(cells => pairs(ivfMultiProbe(all, cells)))
      val fPq = fIdx.map { case (cb, idx) => pairs(pqScanIdx(idx, all, cb)) }
      val fIvfPq = for { (cb, idx) <- fIdx; cells <- fCells }
        yield pairs(ivfPqIdx(idx, all, cb, cells))
      val arms = Seq(
        "ivf" -> fIvf, "lsh" -> fLsh, "pq" -> fPq, "ivf_multi" -> fIvfMulti,
        "lsh_bands" -> fBands, "ivf_pq" -> fIvfPq)
      val exact = Await.result(fExact, Duration.Inf)
      val armPairs = arms.map { case (m, f) => m -> Await.result(f, Duration.Inf) }
      recallTable(spark,
        armPairs.map { case (m, a) => (m, recallRows(exact, a)) })
    } finally {
      pqIdx.get().foreach(_.unpersist(): Unit)
      all.unpersist(): Unit
    }
  }

  /** Driver-side recall scoring over the bounded |probes| x k id sets: per
    * probe, |approx ∩ exact| against |exact| — the same left-join +
    * coalesce(0) semantics the r7 score() join computed, on ~dozens of
    * rows (all arms end in a row_number top-k, so the pair sets are
    * duplicate-free by construction). */
  private def recallRows(exact: Array[(Long, Long)],
      approx: Array[(Long, Long)]): Seq[(Long, Long, Long, Double)] = {
    val exactByQ = exact.groupBy(_._1)
    val approxByQ = approx.groupBy(_._1)
    exactByQ.keys.toSeq.sorted.map { q =>
      val e = exactByQ(q).map(_._2).toSet
      val h = approxByQ.getOrElse(q, Array.empty[(Long, Long)])
        .count(p => e.contains(p._2)).toLong
      (q, e.size.toLong, h, h.toDouble / e.size.toDouble)
    }
  }

  private def recallTable(spark: SparkSession,
      scored: Seq[(String, Seq[(Long, Long, Long, Double)])]): DataFrame = {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("method", StringType, nullable = false),
      StructField("query_id", LongType, nullable = false),
      StructField("n_exact", LongType, nullable = false),
      StructField("n_hits", LongType, nullable = false),
      StructField("recall", DoubleType, nullable = false)))
    val rows = scored.sortBy(_._1).flatMap { case (m, rs) =>
      rs.map { case (q, n, h, r) => Row(m, q, n, h, r) }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy("method", "query_id")
  }

  // ---- planted-structure fixture + index-value harness (spec-level) -----

  /** Deterministic CLUSTERED corpus derived from the embeddings table: ten
    * anchor vectors (vec_id 100..109, one per cluster), each corpus vector
    * re-planted as `3·anchor(vec_id % 10) + 0.5·original`, labeled by its
    * cluster. Anchor separation (~3·√2·‖a‖ between centers) dominates the
    * 0.5‖e‖ noise radius, so a vector's true cosine neighbors live in its
    * own cluster — the structure production embeddings actually have and
    * the sim9 fixture deliberately lacks. [[ivfMultiRecallFraction]] on
    * this frame is the evidence that the IVF index WINS where structure
    * exists (sim9/sim14 prove only the structure-free floor, where recall
    * can never beat the candidate fraction); SimilaritySpec asserts
    * recall ≥ 0.8 at candidate fraction ≤ 0.2. */
  private[graft] def clusteredFixture(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExpressions.register(spark)
    val base = Catalog.tableSpread(spark, dir, "embeddings")
      .select(col("vec_id"), toD(col("embedding")).as("e0"))
      .filter(array_max(transform(col("e0"), x => abs(x))) > 0)
    val anchors = base.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select((col("vec_id") - 100).cast(IntegerType).as("g"),
        col("e0").as("anchor"))
    base.withColumn("g", (col("vec_id") % 10).cast(IntegerType))
      .join(broadcast(anchors), Seq("g"))
      .select(col("vec_id"),
        zip_with(col("anchor"), col("e0"),
          (a, x) => a * lit(3.0) + x * lit(0.5)).as("e"),
        col("g").as("label"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .filter(col("nrm") > 0)
  }

  /** Spec harness: (mean recall@k, candidate fraction) of the sim11
    * ivf_multi arm at `nProbe` over an arbitrary corpus frame in [[emb]]
    * layout — the exact same cell-selection + equi-join plans the
    * registered query runs, so the measured recall is the index's, not a
    * reimplementation's. Candidate fraction = rows the probed cells make
    * the arm scan / rows brute force scans (|probes|·N) — the cost the
    * index is supposed to save. */
  private[graft] def ivfMultiRecallFraction(spark: SparkSession,
      corpus: DataFrame, nProbe: Int): (Double, Double) = {
    val all = corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = all.count()
      val probes = idBound(all, ProbeCount)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qnrm"))
      def pairs(df: DataFrame): Array[(Long, Long)] =
        df.select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      val exact = pairs(topk(
        all.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("query_id")), IvfTopK))
      val cellsDf = multiProbeCells(all, nProbe)
      val cells = spark.createDataFrame(
        java.util.Arrays.asList(cellsDf.collect(): _*), cellsDf.schema)
      val approx = pairs(ivfMultiProbe(all, cells))
      val scored = recallRows(exact, approx)
      val meanRecall = scored.map(_._4).sum / scored.size
      val cellSizes = all.groupBy(col("label")).count().collect()
        .map(r => (r.get(0), r.getLong(1))).toMap
      val scanned = cells.collect()
        .map(r => cellSizes.getOrElse(r.get(1), 0L)).sum
      val nProbes = cells.select(col("query_id")).distinct().count()
      (meanRecall, scanned.toDouble / (nProbes * n).toDouble)
    } finally { all.unpersist(): Unit }
  }

  // ---- sim10: product quantization -------------------------------------
  private val PqM = 4      // subspaces (64 dims / 16)
  private val PqSub = 16   // dims per subspace
  private val PqK = 8      // codewords per subspace (the seed-vector convention)

  /** sim10: PRODUCT-QUANTIZED top-k — the vector-quantization ANN index
    * (sim5 is scalar quantization; PQ is the other compression axis). Each
    * vector is encoded as [[PqM]] one-byte codes: per 16-dim subspace, the
    * nearest (L2) of [[PqK]] codewords, the codewords being the seed
    * vectors' subvectors (the same "given initial centers" convention as
    * sim6). Queries score candidates ASYMMETRICALLY (ADC): the raw query
    * subvector dotted with each candidate's reconstructed codeword, summed
    * over subspaces in fixed order — so the index stores 4 bytes/vector
    * (16x smaller than the int8 index, 64x smaller than float32) and the
    * query never touches the original corpus vectors.
    *
    * SCALE SHAPE: the codebook is PqK x 64 doubles — a bounded constant
    * (the sim1 probe-budget argument) collected once at INDEX BUILD and
    * embedded as literals, so encoding is pure map-side compute inside the
    * scan stage; the argmin is an array_sort over (distance, id) structs,
    * each distance fold evaluated once. Search is the sim1 bounded-probe
    * broadcast over the (vec_id, codes) index — at 100 TB the scan reads 4
    * bytes a vector, and rank error comes only from quantization. */
  /** Codebook literals: cb(m)(k) = seed k's m-th subvector (collected once
    * at index build — the bounded-constant contract). */
  private def pqSeeds(all: DataFrame): Array[Array[Double]] = {
    val seeds = all.filter(col("vec_id") < PqK)
      .select(col("vec_id"), col("e")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    require(seeds.length == PqK, s"expected $PqK non-zero seed vectors")
    seeds
  }

  /** Codebook literal columns from raw seed vectors — split so sim15 can
    * rebuild the identical literals from the LANDED seed doubles. */
  private def pqCodebookFrom(seeds: Array[Array[Double]]): IndexedSeq[Column] =
    (0 until PqM).map { m =>
      typedlit(seeds.toSeq.map(_.slice(m * PqSub, (m + 1) * PqSub).toSeq))
    }

  private def pqCodebook(all: DataFrame): IndexedSeq[Column] =
    pqCodebookFrom(pqSeeds(all))

  private def pqSubvec(c: Column, m: Int): Column = slice(c, m * PqSub + 1, PqSub)

  /** Per-subspace code: argmin_k ||x_sub - c_k||^2, ties to the lowest k,
    * via the codegen [[graft.expr.PqNearestCode]] — bit-identical to the
    * interpreted array_sort-over-(distance, k)-structs chain it replaced
    * (same strict left-to-right distance folds, same lowest-k tie-break),
    * evaluated as one fused loop instead of [[PqK]] interpreted fold
    * pipelines per row per subspace (the encode hot spot shared by
    * sim10/13/15/16 and sim9's pq arms). */
  private def pqCode(cb: IndexedSeq[Column], m: Int): Column =
    call_function("pq_nearest_code", pqSubvec(col("e"), m), cb(m))

  /** ADC: fixed-order sum of per-subspace (raw query sub) . (codeword). */
  private def pqAdcScore(cb: IndexedSeq[Column]): Column =
    (0 until PqM).map { m =>
      dot(pqSubvec(col("qe"), m), element_at(cb(m), col(s"c$m") + 1))
    }.reduce(_ + _)

  /** Shared ADC rank/output tail for sim10/sim13. */
  /** [[pqRank]]'s output shape, statically declared so s23's empty-drain
    * path can build a correctly-shaped empty frame without running a full
    * serve pipeline just to read `.schema` (the s26 static-schema
    * pattern); s23 requires each batch's live schema to match, so the two
    * cannot drift silently. */
  private[graft] val ServeSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("adc_score", DoubleType)))

  private def pqRank(pairs: DataFrame, cb: IndexedSeq[Column]): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    pairs
      .withColumn("score", pqAdcScore(cb))
      .withColumn("rank", asLong(row_number().over(w)))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("score"), 6).as("adc_score"))
      .orderBy("query_id", "rank")
  }

  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    pqScan(all, pqCodebook(all))
  }

  /** (vec_id, label, c0..c3): the PQ-encoded index. Each encode is a full
    * interpreted array_sort/aggregate pass over the corpus, so sim9 builds
    * this frame ONCE (persisted) and both the pq and ivf_pq arms consume
    * it — before round 8 the corpus was encoded twice per evaluation. */
  private def pqIndex(all: DataFrame, cb: IndexedSeq[Column]): DataFrame =
    all.select(
      (Seq(col("vec_id"), col("label")) ++
        (0 until PqM).map(m => pqCode(cb, m).as(s"c$m"))): _*)

  private def pqScan(all: DataFrame, cb: IndexedSeq[Column]): DataFrame =
    pqScanIdx(pqIndex(all, cb), all, cb)

  private def pqScanIdx(index: DataFrame, all: DataFrame,
      cb: IndexedSeq[Column]): DataFrame = {
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    pqRank(index.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id")), cb)
  }

  /** sim13: IVF-PQ — the production composite ANN index (FAISS's IVFPQ
    * shape): sim11's multi-probe cell pruning picks WHICH inverted lists a
    * probe scans, sim10's 4-byte PQ codes are WHAT those lists store, and
    * scoring is the asymmetric ADC dot against the reconstructed
    * codewords. The two compression/pruning axes compose: per probe the
    * scan touches ~(NProbe+1)/|cells| of the corpus at 4 bytes a vector —
    * at 100 TB that is the difference between an index that fits on the
    * cluster and one that does not.
    *
    * SCALE SHAPE: the codebook is the bounded literal of sim10; the
    * candidate join is the sim11 equi-join on cell id against the exploded
    * (probe, cell) broadcast; nothing new shuffles. Rank error now comes
    * from BOTH sources (pruned lists + quantized scores) — sim9 carries an
    * `ivf_pq` arm so that trade is measured, not assumed. */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame =
    withEmb(spark, dir)(all =>
      ivfPq(all, pqCodebook(all), multiProbeCells(all)))

  private def ivfPq(all: DataFrame, cb: IndexedSeq[Column], cells: DataFrame): DataFrame =
    ivfPqIdx(pqIndex(all, cb), all, cb, cells)

  private def ivfPqIdx(index: DataFrame, all: DataFrame,
      cb: IndexedSeq[Column], cells: DataFrame): DataFrame = {
    val probes = idBound(all, ProbeCount)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val pairs = index.join(
      broadcast(probes.join(cells, Seq("query_id"))),
      col("label") === col("clabel") && col("vec_id") =!= col("query_id"))
    pqRank(pairs, cb)
  }

  // ---- sim15: serve top-k from a LANDED ANN index -----------------------

  /** Land the IVF-PQ index as BLOCK STORES (r10 verdict ask #4 — every
    * other sim query rebuilds cells/codebooks per session; a production
    * ANN serves from a landed index):
    *
    *   - `annidx@dir` — the CORPUS-SIZED artifact: one row per vector,
    *     written through the connector's staged-commit write path (the
    *     x33 put lifecycle) with doc_id = vec_id, lang = IVF cell id, and
    *     the [[PqM]] one-byte PQ codes packed into n_chars. The frame is
    *     repartitioned by cell before the write, so blocks cluster by
    *     cell and the store's DICTIONARY stats make a cell-pruned serve:
    *     `lang IN (probed cells)` skips every other cell's blocks — at
    *     100 TB the serve reads ~(NProbe+1)/|cells| of 4-byte codes,
    *     never the embeddings.
    *   - `annmeta@dir` — the BOUNDED artifact: codebook seed doubles
    *     stored bit-exactly via `doubleToLongBits` in n_chars (so the
    *     reconstructed ADC literals are bit-identical to build time),
    *     plus the exact per-cell BIGINT stats sim11's probe-to-cell
    *     argmin needs.
    *
    * Serving ([[landedAnnTopK]]) touches ONLY these stores plus the
    * bounded probe rows — no corpus re-encode, no cell-stats rescan; its
    * output is row-identical to [[ivfPqTopK]] (same quantizer, same
    * argmin, same ADC), so sim15 shares sim13's oracle. */
  /** Encode `frame` (emb layout) with codebook `cb` and write it into the
    * index store as cell-clustered packed-code blocks. `append = true` is
    * the sim16 incremental path. */
  private def writeIndexStore(frame: DataFrame, cb: IndexedSeq[Column],
      idxName: String, append: Boolean): Unit = {
    val packedCodes = (0 until PqM).map(m =>
      shiftleft(col(s"c$m").cast(LongType), (PqM - 1 - m) * 8))
      .reduce(_ + _)
    pqIndex(frame, cb)
      .select(col("vec_id").as("doc_id"), lit("").as("text"),
        col("label").cast(StringType).as("lang"), lit("pq").as("source"),
        packedCodes.as("n_chars"))
      .write.format("graft.sources.BlockStoreSource")
      .option("store", idxName).option("clusterBy", "lang")
      .mode(if (append) "append" else "overwrite").save()
  }

  /** Land (codebook seed doubles bit-exact, per-cell BIGINT stats) as the
    * bounded meta store — always an overwrite (the meta is a snapshot;
    * sim16 merges stats driver-side and rewrites it). */
  private def writeMetaStore(spark: SparkSession, metaName: String,
      seeds: Array[Array[Double]],
      cells: Array[(Int, Long, Array[Long])]): Unit = {
    val metaRows: Seq[org.apache.spark.sql.Row] =
      (for (k <- 0 until PqK; d <- 0 until Dims) yield
        org.apache.spark.sql.Row((k * Dims + d).toLong, "", "cb",
          k.toString, java.lang.Double.doubleToLongBits(seeds(k)(d)))) ++
      cells.toSeq.map { case (lb, cn, _) =>
        org.apache.spark.sql.Row(100000L + lb, "", "cn", lb.toString, cn)
      } ++
      (for ((lb, _, s) <- cells.toSeq; d <- 0 until Dims) yield
        org.apache.spark.sql.Row(200000L + lb.toLong * Dims + d, "",
          "cs", lb.toString, s(d)))
    spark.createDataFrame(
        java.util.Arrays.asList(metaRows: _*), Catalog.documents)
      .coalesce(1)
      .write.format("graft.sources.BlockStoreSource")
      .option("store", metaName).mode("overwrite").save()
  }

  /** Parse the landed meta store back into (codebook seeds, cell stats) —
    * the serve- and append-side reader (bit-exact via longBitsToDouble). */
  private def readMetaStore(spark: SparkSession,
      metaName: String): (Array[Array[Double]], Array[(Int, Long, Array[Long])]) = {
    val meta = spark.read.format("graft.sources.BlockStoreSource")
      .option("store", metaName).load().collect()
    val byKind = meta.groupBy(_.getString(2))
    val seeds = Array.ofDim[Double](PqK, Dims)
    byKind("cb").foreach { r =>
      val id = r.getLong(0).toInt
      seeds(id / Dims)(id % Dims) = java.lang.Double.longBitsToDouble(r.getLong(4))
    }
    val counts = byKind("cn")
      .map(r => r.getString(3).toInt -> r.getLong(4)).toMap
    val cells = byKind("cs").groupBy(_.getString(3).toInt).toArray
      .map { case (lb, rs) =>
        val s = new Array[Long](Dims)
        rs.foreach { r => s(((r.getLong(0) - 200000L) % Dims).toInt) = r.getLong(4) }
        (lb, counts(lb), s)
      }
    (seeds, cells)
  }

  private def quantFrame(frame: DataFrame): DataFrame =
    frame.withColumn("q", call_function("vec_quant127", col("e")))

  private[graft] def ensureLandedIndex(spark: SparkSession,
      dir: String): (String, String) = synchronized {
    val idxName = graft.Landed.store("annidx@", dir)
    val metaName = graft.Landed.store("annmeta@", dir)
    // idempotence keys on the META store — the artifact written LAST: a
    // build that died between the index write and the meta write must
    // rebuild, not serve (keying on the index store made such a partial
    // build permanently poison every later serve with a missing-codebook
    // error until a manual drop). Any partial remains are dropped first.
    if (graft.sources.BlockStore.blockCount(metaName) == 0) {
      graft.sources.BlockStore.dropStore(idxName)
      graft.sources.BlockStore.dropStore(metaName)
      graft.expr.VectorExpressions.register(spark)
      val all = emb(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        all.count()
        val seeds = pqSeeds(all)
        writeIndexStore(all, pqCodebookFrom(seeds), idxName, append = false)
        writeMetaStore(spark, metaName, seeds, collectCellStats(quantFrame(all)))
      } finally all.unpersist(): Unit
    }
    (idxName, metaName)
  }

  /** sim15: IVF-PQ top-k SERVED FROM THE LANDED INDEX — the registered
    * proof that the engine's ANN answers queries without rebuilding
    * anything: cell selection runs on the landed stats, candidate
    * generation is a dictionary-pruned scan of the landed code store,
    * and ADC scoring uses the landed codebook bits. Output is
    * row-identical to sim13 (shared oracle); the spec additionally
    * asserts the serve's reader-count discipline (index blocks only,
    * cell-pruned). */
  def landedAnnTopK(spark: SparkSession, dir: String): DataFrame =
    landedAnnServe(spark, dir, ProbeCount)

  private[graft] def landedAnnServe(spark: SparkSession, dir: String,
      probeLimit: Int): DataFrame = {
    val (idxStore, metaStore) = ensureLandedIndex(spark, dir)
    serveFromStores(spark, dir, idxStore, metaStore, probeLimit)
  }

  // ---- sim19: RANGE search from the landed index ------------------------

  private[graft] val RangeTau = 0.2

  /** sim19: cosine RANGE (radius) search served from the LANDED index —
    * the "all neighbors within τ" query shape (near-duplicate sweeps,
    * relevance cutoffs) rather than top-k, with the standard
    * candidates-then-REFINE architecture: candidate ids come from the
    * landed IVF store's probed cells (dictionary-pruned scan, no rebuild —
    * the sim15 serve path), and each candidate is then rescored EXACTLY by
    * equi-joining its raw embedding back in (the refine step every
    * production ANN runs above its quantized index; sim15's ADC scores are
    * approximations, so a threshold on them would be a different — and
    * engine-fragile — predicate). The emitted set is exactly "candidates
    * with true cosine ≥ τ": approximate candidate generation, exact
    * acceptance.
    *
    * SCALE SHAPE: the index scan opens only the probed cells' blocks
    * (dictionary pruning, as sim15); the refine join is an equi-join on
    * vec_id bounded by the candidate count, never all-pairs; output is
    * whatever clears τ — no window. At 100 TB the refine reads raw
    * vectors for ~(NProbe+1)/|cells| of the corpus per probe batch. */
  def landedRangeSearch(spark: SparkSession, dir: String): DataFrame =
    landedRefined(spark, dir, identity)
      .filter(col("cos") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "neighbor_id")

  /** sim21: FILTERED vector search — the predicate + ANN composition every
    * retrieval product needs (metadata filters over a vector index:
    * "nearest docs WHERE license = permissive"): candidates come from the
    * landed index's probed cells (sim15's serve path), the attribute
    * predicate (here: even vec_id, a deterministic stand-in for any
    * metadata filter) is applied to the CANDIDATE set BEFORE the refine —
    * pre-filtering, the cheap side of the filtered-ANN design space
    * (post-filtering top-k would under-fill k when the filter is
    * selective) — and the survivors are rescored EXACTLY and ranked.
    *
    * SCALE SHAPE: identical to sim19 (cell-pruned index scan, bounded
    * refine equi-join) with the filter shrinking the refine input; the
    * predicate evaluates on index rows, never on raw vectors. */
  def landedFilteredTopK(spark: SparkSession, dir: String): DataFrame =
    landedRefined(spark, dir, _.filter(col("vec_id") % 2 === 0))
      .withColumn("rank", asLong(row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id")))))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rank")

  /** sim21 mirror: sim11's candidate chain, even-id filter, rank tail. */
  private lazy val Sim21Oracle: String =
    s"""${sim11PairsSql(NProbe)},
       |ranked AS (SELECT query_id, vec_id AS neighbor_id,
       |             d / (qnrm * nrm) AS cos,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
       |           FROM pairs WHERE vec_id % 2 = 0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       |       round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= $IvfTopK ORDER BY query_id, rank""".stripMargin

  /** Shared candidates-then-exact-refine pipeline over the landed index
    * (sim19's architecture): probed-cell candidates, optional candidate
    * transform, raw-embedding equi-join, full-precision `cos` column. */
  private def landedRefined(spark: SparkSession, dir: String,
      candFilter: DataFrame => DataFrame): DataFrame = {
    val (idxStore, metaStore) = ensureLandedIndex(spark, dir)
    graft.expr.VectorExpressions.register(spark)
    val (_, cells) = readMetaStore(spark, metaStore)
    val probes = emb(spark, dir).filter(col("vec_id") < ProbeCount)
      .select(col("vec_id"), col("e"), col("label"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2),
        r.getDouble(3)))
    val probeQ = probes.map { case (id, e, lb, _) => (id, lb, quantize127(e)) }
    val pairs = nearestCells(cells, probeQ, NProbe)
    val eByProbe = probes.map(p => p._1 -> (p._2, p._4)).toMap
    val probeRows = pairs.map { case (qid, lb) =>
      val (qe, qnrm) = eByProbe(qid)
      org.apache.spark.sql.Row(qid, lb.toString, qe.toSeq, qnrm)
    }
    val pschema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("qcell", StringType, nullable = false),
      StructField("qe", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("qnrm", DoubleType, nullable = false)))
    val probesDf = spark.createDataFrame(
      java.util.Arrays.asList(probeRows.toIndexedSeq: _*), pschema)
    val wanted = pairs.map(_._2.toString).distinct.toSeq
    // candidate GENERATION: landed code store, probed cells' blocks only,
    // the caller's attribute filter applied to the candidate set
    val cand = candFilter(spark.read.format("graft.sources.BlockStoreSource")
      .option("store", idxStore).load()
      .filter(col("lang").isin(wanted: _*))
      .select(col("doc_id").as("vec_id"), col("lang").as("cell")))
      .join(broadcast(probesDf),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
    // exact REFINE: raw vectors fetched per candidate
    cand.join(emb(spark, dir).select(col("vec_id"), col("e"), col("nrm")),
        Seq("vec_id"))
      .withColumn("cos", dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")))
  }

  private def serveFromStores(spark: SparkSession, dir: String,
      idxStore: String, metaStore: String, probeLimit: Int): DataFrame =
    serveImpl(spark, dir, idxStore, metaStore, col("vec_id") < probeLimit)

  /** Serve an EXPLICIT probe-id set from a landed index — the per-batch
    * entry point of the streaming serve (s23): each arriving id is served
    * exactly once, and because each probe's top-k depends only on the
    * FIXED landed index, the union over any batch partitioning of the
    * probes equals the one-shot serve. */
  private[graft] def serveForProbes(spark: SparkSession, dir: String,
      idxStore: String, metaStore: String, ids: Seq[Long]): DataFrame =
    serveImpl(spark, dir, idxStore, metaStore,
      col("vec_id").isin(ids.map(Long.box): _*))

  private def serveImpl(spark: SparkSession, dir: String,
      idxStore: String, metaStore: String, probePred: Column,
      tombstones: Option[String] = None): DataFrame = {
    graft.expr.VectorExpressions.register(spark)
    // bounded meta read through the store's get path
    val (seeds, cells) = readMetaStore(spark, metaStore)
    val cb = pqCodebookFrom(seeds)
    // the bounded probe set is QUERY input (not index): raw vectors read
    // once, quantized and cell-ranked driver-side
    val probes = emb(spark, dir).filter(probePred)
      .select(col("vec_id"), col("e"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    val probeQ = probes.map { case (id, e, lb) => (id, lb, quantize127(e)) }
    val pairs = nearestCells(cells, probeQ, NProbe)
    val eByProbe = probes.map(p => p._1 -> p._2).toMap
    val probeRows = pairs.map { case (qid, lb) =>
      org.apache.spark.sql.Row(qid, lb.toString, eByProbe(qid).toSeq)
    }
    val pschema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("qcell", StringType, nullable = false),
      StructField("qe", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    val probesDf = spark.createDataFrame(
      java.util.Arrays.asList(probeRows.toIndexedSeq: _*), pschema)
    val wanted = pairs.map(_._2.toString).distinct.toSeq
    // dictionary-pruned serve: only the probed cells' blocks open
    val idx0 = spark.read.format("graft.sources.BlockStoreSource")
      .option("store", idxStore).load()
      .filter(col("lang").isin(wanted: _*))
      .select(Seq(col("doc_id").as("vec_id"), col("lang").as("cell")) ++
        (0 until PqM).map(m =>
          shiftright(col("n_chars"), (PqM - 1 - m) * 8)
            .bitwiseAND(lit(255L)).cast(IntegerType).as(s"c$m")): _*)
    // tombstoned ids never become candidates: an equi ANTI-join against
    // the tombstone store (a table, not a broadcast — at 100 TB the
    // delete set scales with the corpus, the sim18 contract). The
    // shuffle-hash hint ENFORCES that contract: unhinted, the planner
    // broadcast the tombstone scan (the r15 ×64 corpus-broadcast audit
    // caught the plan contradicting this very comment)
    val idx = tombstones.fold(idx0)(t =>
      idx0.join(spark.read.format("graft.sources.BlockStoreSource")
          .option("store", t).load().select(col("doc_id").as("vec_id"))
          .hint("shuffle_hash"),
        Seq("vec_id"), "left_anti"))
    val joined = idx.join(broadcast(probesDf),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
    pqRank(joined, cb)
  }

  // ---- sim16: INCREMENTAL append to the landed index --------------------

  /** Build the sim16 index in TWO GENERATIONS: an initial land from a
    * corpus subset, then an APPEND of the remaining batch that does
    * O(batch) work — and is nevertheless BIT-IDENTICAL to a full rebuild,
    * because every landed artifact is either per-vector pure or exactly
    * mergeable:
    *
    *   - PQ codes depend only on the LANDED codebook (read back
    *     bit-exactly from the meta store), never on other vectors;
    *   - cell assignment is the vector's own label;
    *   - cell stats are BIGINT (count, component-sum) pairs — the append
    *     batch's stats ADD exactly onto the landed ones (no float means
    *     to drift, the sim8 exact-centroid discipline paying off again).
    *
    * The initial subset keeps the seed vectors (`vec_id < PqK`) so both
    * generations share one codebook; the batch is everything else with
    * `vec_id % 5 == 0`. The append phase reads ONLY the landed meta and
    * the batch rows — the initial corpus is never rescanned (p7's
    * O(batch) incremental contract, now for the ANN index). */
  private[graft] def ensureAppendedIndex(spark: SparkSession,
      dir: String): (String, String) = synchronized {
    val idxName = graft.Landed.store("annidx2@", dir)
    val metaName = graft.Landed.store("annmeta2@", dir)
    // guard on the artifact finished LAST + drop partial remains first;
    // on ANY failure mid-build both stores are dropped so a retry
    // rebuilds instead of serving a half-built generation (stores are
    // in-memory, so exception cleanup IS failure-atomicity)
    if (graft.sources.BlockStore.blockCount(idxName) == 0 ||
        graft.sources.BlockStore.blockCount(metaName) == 0) {
      graft.sources.BlockStore.dropStore(idxName)
      graft.sources.BlockStore.dropStore(metaName)
      graft.expr.VectorExpressions.register(spark)
      val all = emb(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        all.count()
        val isBatch = col("vec_id") >= PqK && col("vec_id") % 5 === 0
        // generation 1: land the initial subset
        val initial = all.filter(!isBatch)
        val seeds = pqSeeds(initial)
        writeIndexStore(initial, pqCodebookFrom(seeds), idxName, append = false)
        writeMetaStore(spark, metaName, seeds,
          collectCellStats(quantFrame(initial)))
        // generation 2: append the batch using ONLY landed state + batch
        val (landedSeeds, landedCells) = readMetaStore(spark, metaName)
        val batch = all.filter(isBatch)
        writeIndexStore(batch, pqCodebookFrom(landedSeeds), idxName,
          append = true)
        val batchCells = collectCellStats(quantFrame(batch))
        writeMetaStore(spark, metaName, landedSeeds,
          mergeCells(landedCells, batchCells))
      } catch { case e: Throwable =>
        graft.sources.BlockStore.dropStore(idxName)
        graft.sources.BlockStore.dropStore(metaName)
        throw e
      } finally all.unpersist(): Unit
    }
    (idxName, metaName)
  }

  /** Exact commutative merge of two cell-stats sets (BIGINT sums and
    * counts add per cell) — shared by sim16's batch append and s25's
    * streaming ingest; commutativity is what makes the streamed index
    * independent of batch partitioning. */
  private def mergeCells(xs: Array[(Int, Long, Array[Long])],
      ys: Array[(Int, Long, Array[Long])]): Array[(Int, Long, Array[Long])] =
    (xs ++ ys).groupBy(_._1).toArray.map { case (lb, gs) =>
      val s = new Array[Long](Dims)
      gs.foreach { case (_, _, sv) =>
        var d = 0; while (d < Dims) { s(d) += sv(d); d += 1 }
      }
      (lb, gs.map(_._2).sum, s)
    }

  // ---- s25 support: streaming index ingest (driven by StreamingOps) -----

  /** Land generation 1 of a STREAM-fed index: the codebook-seed subset
    * only (`vec_id < PqK`) — identical seeds to the full build, so the
    * streamed index's codes are codebook-compatible with sim13's. */
  private[graft] def streamIngestInit(spark: SparkSession, dir: String,
      idxName: String, metaName: String): Unit = {
    graft.expr.VectorExpressions.register(spark)
    val initial = emb(spark, dir).filter(col("vec_id") < PqK)
    val seeds = pqSeeds(initial)
    writeIndexStore(initial, pqCodebookFrom(seeds), idxName, append = false)
    writeMetaStore(spark, metaName, seeds,
      collectCellStats(quantFrame(initial)))
  }

  /** Append one arriving id-batch to the stream-fed index: encode with
    * the LANDED codebook (constant across batches — seeds never change),
    * append codes, merge stats exactly. O(batch); the initial corpus is
    * never rescanned (sim16's incremental contract, per micro-batch). */
  private[graft] def streamIngestAppend(spark: SparkSession, dir: String,
      idxName: String, metaName: String, ids: Seq[Long]): Unit = {
    graft.expr.VectorExpressions.register(spark)
    val (landedSeeds, landedCells) = readMetaStore(spark, metaName)
    val batch = emb(spark, dir)
      .filter(col("vec_id").isin(ids.map(Long.box): _*))
    writeIndexStore(batch, pqCodebookFrom(landedSeeds), idxName,
      append = true)
    writeMetaStore(spark, metaName, landedSeeds,
      mergeCells(landedCells, collectCellStats(quantFrame(batch))))
  }

  /** Non-seed, non-zero vector ids — the feed a streaming ingest drains. */
  private[graft] def ingestFeedIds(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).filter(col("vec_id") >= PqK).select(col("vec_id"))

  private[graft] def streamIngestServe(spark: SparkSession, dir: String,
      idxName: String, metaName: String): DataFrame =
    serveFromStores(spark, dir, idxName, metaName, ProbeCount)

  // ---- sim18: tombstone DELETE from the landed index ---------------------

  /** Policy delete-set for sim18: ids ≥ [[ProbeCount]] with id % 7 == 3
    * (a retention/right-to-erasure batch). Seeds and probes are PROTECTED
    * by construction — deleting a codebook seed would require re-training
    * (production re-lands the codebook then; the exactness story below
    * covers data deletes, the overwhelmingly common case). */
  private def deletePred: Column =
    col("vec_id") >= ProbeCount && col("vec_id") % 7 === 3

  /** Build sim18's index: a full land, then a TOMBSTONE DELETE that does
    * O(|deleted|) work — the production ANN delete shape (tombstone +
    * periodic compaction, never an eager index rewrite):
    *
    *   - deleted ids land as a bounded tombstone STORE; the serve
    *     anti-joins candidates against it (an equi anti-join — at 100 TB
    *     the tombstone set is a table, not a broadcast);
    *   - cell stats are corrected by exact BIGINT SUBTRACTION of the
    *     deleted vectors' contributions (one O(|deleted|) pass) — the
    *     mergeable-stats discipline running in reverse, so probe-to-cell
    *     ranking is bit-identical to a from-scratch build over the
    *     survivors. A cell whose count reaches zero is dropped (it has no
    *     members to serve — exactly as it vanishes from the survivor
    *     oracle's stats).
    *
    * The serve over (full index − tombstones, corrected stats) is
    * row-identical to sim13's computation over the survivor corpus — the
    * registered oracle is Sim13Oracle with its corpus CTE restricted by
    * the same predicate. */
  private[graft] def ensureTombstonedIndex(spark: SparkSession,
      dir: String): (String, String, String) = synchronized {
    val idxName = graft.Landed.store("annidx3@", dir)
    val metaName = graft.Landed.store("annmeta3@", dir)
    val tombName = graft.Landed.store("anntomb3@", dir)
    // same failure-atomicity discipline as ensureAppendedIndex: a build
    // that died after the full land but before the tombstone/stat
    // correction must rebuild, never serve uncorrected stats
    if (graft.sources.BlockStore.blockCount(idxName) == 0 ||
        graft.sources.BlockStore.blockCount(metaName) == 0 ||
        graft.sources.BlockStore.blockCount(tombName) == 0) {
      graft.sources.BlockStore.dropStore(idxName)
      graft.sources.BlockStore.dropStore(metaName)
      graft.sources.BlockStore.dropStore(tombName)
      graft.expr.VectorExpressions.register(spark)
      val all = emb(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        all.count()
        // full land (sim15's build)
        val seeds = pqSeeds(all)
        writeIndexStore(all, pqCodebookFrom(seeds), idxName, append = false)
        writeMetaStore(spark, metaName, seeds, collectCellStats(quantFrame(all)))
        // the DELETE: O(|deleted|) — tombstones + exact stat subtraction
        val deleted = all.filter(deletePred)
        deleted.select(col("vec_id").as("doc_id"), lit("").as("text"),
            lit("ts").as("lang"), lit("tomb").as("source"),
            lit(0L).as("n_chars"))
          .write.format("graft.sources.BlockStoreSource")
          .option("store", tombName).mode("overwrite").save()
        val (landedSeeds, landedCells) = readMetaStore(spark, metaName)
        val delCells = collectCellStats(quantFrame(deleted))
        val delByLabel = delCells.map(c => c._1 -> c).toMap
        val corrected = landedCells.flatMap { case (lb, cn, s) =>
          delByLabel.get(lb) match {
            case None => Some((lb, cn, s))
            case Some((_, dcn, ds)) =>
              val left = cn - dcn
              if (left == 0L) None
              else {
                val ns = new Array[Long](Dims)
                var d = 0
                while (d < Dims) { ns(d) = s(d) - ds(d); d += 1 }
                Some((lb, left, ns))
              }
          }
        }
        writeMetaStore(spark, metaName, landedSeeds, corrected)
      } catch { case e: Throwable =>
        graft.sources.BlockStore.dropStore(idxName)
        graft.sources.BlockStore.dropStore(metaName)
        graft.sources.BlockStore.dropStore(tombName)
        throw e
      } finally all.unpersist(): Unit
    }
    (idxName, metaName, tombName)
  }

  /** sim18: top-k served from the landed index AFTER a tombstone delete —
    * row-identical to rebuilding over the survivors (the oracle is the
    * full-corpus sim13 computation restricted to the survivor set). */
  def indexDeleteTopK(spark: SparkSession, dir: String): DataFrame = {
    val (idxStore, metaStore, tombStore) = ensureTombstonedIndex(spark, dir)
    serveImpl(spark, dir, idxStore, metaStore,
      col("vec_id") < ProbeCount, tombstones = Some(tombStore))
  }

  /** sim22: top-k served from the COMPACTED index — the maintenance step
    * that closes the index lifecycle (build sim15 → append sim16 →
    * delete sim18 → COMPACT): tombstones make deletes O(|deleted|) but
    * tax every serve with an anti-join; compaction pays that cost back
    * once — a DISTRIBUTED rewrite of the code store anti-joining the
    * tombstone set, landed cell-clustered through the same V2 write path
    * as the original build, after which serves run tombstone-free. The
    * corrected meta store is reused as-is (sim18 already subtracted the
    * deleted vectors' stats exactly). Row-identical to sim18's
    * tombstoned serve — the shared oracle is the survivor-corpus
    * computation.
    *
    * SCALE SHAPE: one equi anti-join (codes × tombstones) + one
    * clustered write — both distributed; nothing driver-sized. */
  def indexCompactTopK(spark: SparkSession, dir: String): DataFrame = {
    val (cIdx, meta) = ensureCompactedIndex(spark, dir)
    serveFromStores(spark, dir, cIdx, meta, ProbeCount)
  }

  private[graft] def ensureCompactedIndex(spark: SparkSession,
      dir: String): (String, String) = synchronized {
    val (idx, meta, tomb) = ensureTombstonedIndex(spark, dir)
    val cName = graft.Landed.store("annidx4@", dir)
    if (graft.sources.BlockStore.blockCount(cName) == 0) {
      def rd(n: String) = spark.read
        .format("graft.sources.BlockStoreSource").option("store", n).load()
      rd(idx)
        .join(rd(tomb).select(col("doc_id")), Seq("doc_id"), "left_anti")
        .write.format("graft.sources.BlockStoreSource")
        .option("store", cName).option("clusterBy", "lang")
        .mode("overwrite").save()
    }
    (cName, meta)
  }

  /** sim16: top-k served from the INCREMENTALLY-built index — the
    * registered proof that the landed ANN index admits O(batch) appends
    * without drifting: the serve over initial+appended generations is
    * row-identical to sim13's full-corpus build (shared oracle), which
    * can only hold if codes, cells, and stats all merged exactly. */
  def annAppendTopK(spark: SparkSession, dir: String): DataFrame = {
    val (idxStore, metaStore) = ensureAppendedIndex(spark, dir)
    serveFromStores(spark, dir, idxStore, metaStore, ProbeCount)
  }

  // ---- sim17: cross-lingual bitext mining --------------------------------

  /** sim17: BITEXT MINING — for every non-English document, the
    * best-cosine ENGLISH document inside its IVF cell: the
    * parallel-corpus harvesting stage of a multilingual training
    * pipeline (the CCMatrix/LASER margin-mining shape, with the engine's
    * deterministic exact scoring as the rescorer). Composes the corpus'
    * two modalities: `documents.lang` keys the two sides, `embeddings`
    * scores the alignment.
    *
    * SCALE SHAPE: dd5's cell-blocked discipline — candidates come from an
    * equi-join on the cell id (never all-pairs; per-cell cost is
    * |fx_cell|×|en_cell|), the doc_id↔vec_id attach is an equi-join, and
    * the per-source-doc argmax is a window PARTITIONED BY the source
    * vector (never unpartitioned). Ranking compares raw IEEE cosines from
    * the codegen ordered-fold dot (bit-identical cross-engine, the sim1
    * precedent); only the reported cosine is rounded. */
  def bitextMine(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    val langs = Catalog.table(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    // corpus ⋈ corpus on vec_id: the two-column lang Project's size
    // estimate sits under the broadcast threshold even at the ×64 corpus
    // (the r15 audit's finding — broadcasting `documents` is never the
    // cluster plan); shuffle-hash pins the scale-sane shape
    val v = all.join(langs.hint("shuffle_hash"), Seq("vec_id"))
    val en = v.filter(col("lang") === "en")
      .select(col("vec_id").as("en_id"), col("e").as("ee"),
        col("nrm").as("enrm"), col("label"))
    val fx = v.filter(col("lang") =!= "en")
      .select(col("vec_id").as("src_id"), col("lang").as("src_lang"),
        col("e").as("fe"), col("nrm").as("fnrm"), col("label"))
    val cos = dot(col("fe"), col("ee")) / (col("fnrm") * col("enrm"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("en_id"))
    fx.join(en, Seq("label"))
      .withColumn("cos", cos)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("src_id"), col("src_lang"), col("en_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("src_id")
  }

  private val NumCentroids = 8

  /** sim6: nearest-centroid assignment — the k-means/IVF TRAINING step that
    * produces the cell layout sim2 searches. Centroids are a fixed
    * deterministic seed set (`vec_id < NumCentroids`, the k-means++ "given
    * initial centers" case); every vector is assigned to its max-cosine
    * centroid (ties broken by lowest centroid id) and the output is the
    * per-cell manifest: member count and the exact sum of 6-decimal-rounded
    * cosines (DECIMAL(18,6) accumulation — order-independent, so both
    * engines agree bit-for-bit; a raw double sum would not).
    *
    * Scale: K is a CONSTANT (not a corpus fraction), so the centroid table
    * broadcast is O(K·dim) at any N; assignment is one map-side pass over
    * the corpus (K codegen vec_dots per row), and the final aggregation has
    * K groups. A full Lloyd iteration repeats exactly this plan with a
    * centroid-update agg on top — same shuffle shape. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    val centroids = idBound(all, NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("nrm").as("cnrm"))
    assignStep(all, centroids)
      .groupBy(col("centroid_id"))
      .agg(asLong(count(lit(1))).as("n_members"),
        sum(round(col("cos"), 6).cast(DecimalType(18, 6)))
          .cast(DoubleType).as("sum_cos"))
      .orderBy("centroid_id")
  }

  /** sim7: the Lloyd centroid-UPDATE step — sim6's assignment followed by
    * per-dimension member means, i.e. one full k-means training iteration
    * runs as sim6 ∘ sim7. Computed on the INT8-QUANTIZED grid (sim5's
    * quantizer): the per-dimension sums are then exact BIGINT arithmetic,
    * which is what makes a cross-engine-deterministic mean possible at all
    * — a raw float mean is shuffle-order-dependent. This is also the
    * production layout (quantized training is how IVF codebooks are built
    * over compressed corpora).
    *
    * Scale: assignment is sim6's bounded-broadcast map pass; the update
    * explodes members to (centroid, dim) — a fixed fan-out of `dim` rows —
    * and aggregates on K x dim keys with map-side partials, so the shuffle
    * carries K x dim x partitions small longs, independent of corpus size. */
  def kmeansUpdate(spark: SparkSession, dir: String): DataFrame = {
    val all = quantized(spark, dir)
    val centroids = idBound(all, NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("nrm").as("cnrm"))
    meansStep(assignStep(all, centroids))
      .select(col("centroid_id"), asLong(col("pos") + 1).as("dim"),
        asLong(col("n_members")).as("n_members"),
        // HALF-UP via floor(x·1e6 + 0.5) — the repo's cross-engine
        // rounding rule (round() tie-breaks differently between Spark
        // and DuckDB); same spelling as sim8's codebook output
        (floor(col("mean") * 1000000 + 0.5).cast(DoubleType) / 1000000)
          .as("new_val"))
      .orderBy("centroid_id", "dim")
  }

  /** The quantized-grid frame shared by sim7/sim8: int8 grid vectors (as
    * exact small doubles) + their norms, zero vectors dropped. */
  private def quantized(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExpressions.register(spark)
    val q = call_function("vec_quant127", col("e")).cast(ArrayType(DoubleType))
    Catalog.tableSpread(spark, dir, "embeddings")
      .select(col("vec_id"), toD(col("embedding")).as("e"))
      .filter(call_function("vec_dot", col("e"), col("e")) > 0) // see int8TopK
      .withColumn("q", q)
      .withColumn("nrm", sqrt(dot(col("q"), col("q"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("q").as("e"), col("nrm"))
  }

  /** Max-cosine centroid assignment of every vector — the shared step of
    * sim6/sim7/sim8. K is constant, so the centroid side is always a
    * bounded broadcast and assignment is one map pass (K codegen vec_dots
    * per row, window partitioned BY VECTOR — never unpartitioned). The
    * winning cosine rides along for sim6's aggregate (sim7/sim8's
    * meansStep projects it away — Catalyst prunes it), so ONE copy of the
    * assignment semantics — tie-break included — serves all three. */
  private def assignStep(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cos = dot(col("e"), col("ce")) / (col("nrm") * col("cnrm"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("centroid_id"))
    vectors.crossJoin(broadcast(centroids))
      .withColumn("cos", cos)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("centroid_id"), col("e"), col("cos"))
  }

  /** Per-dim member means of an assignment — exact BIGINT sums over the
    * int8 grid divided by the member count. The division result is left
    * UNROUNDED: IEEE double division of exact integers is bit-identical in
    * both engines, which is what lets round-2 cosines match without any
    * intermediate rounding. */
  private def meansStep(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col("e")).as(Seq("pos", "qv")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("qv").cast(LongType)).cast(DoubleType) / count(lit(1))).as("mean"))

  private val LloydRounds = 2

  /** sim8: ITERATED Lloyd — [[LloydRounds]] full k-means iterations
    * (assign → centroid update), i.e. the training loop sim6/sim7 are the
    * single steps of. Output is the final codebook: per (centroid, dim)
    * the member count and mean, 6-decimal round-half-up (`floor(x*1e6 +
    * 0.5) / 1e6` — `round()` tie-breaks differently across engines).
    *
    * Scale shape per round (composes without lineage blowup — the dd8
    * persist/release pattern): the quantized corpus is persisted ONCE and
    * scanned once per round; centroids are K×dim values — rebuilt as a
    * bounded broadcast each round, persisted and counted so the next
    * round's plan starts from materialized data, previous round's frame
    * released. Per-round shuffle = K×dim×partitions small partials
    * (map-side combine), independent of corpus size. The driver sees one
    * count per round — control flow only. The ≤K×dim-row final aggregate
    * is collected locally so every pinned frame is released HERE.
    *
    * Deterministic by construction: intermediate means stay unrounded
    * (exact IEEE division of BIGINT sums), cosines are ordered codegen
    * folds, assignment ties break by centroid id — so both engines walk
    * bit-identical centroid trajectories round by round. Degenerate
    * all-zero centroids (cnrm = 0) are dropped on an exact comparison
    * before the next assignment, mirrored in the oracle. */
  def kmeansIterate(spark: SparkSession, dir: String): DataFrame = {
    val all = quantized(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids = idBound(all, NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("nrm").as("cnrm"))
    var pinned: Option[DataFrame] = None
    try {
      for (_ <- 1 until LloydRounds) {
        val next = meansStep(assignStep(all, centroids))
          .groupBy(col("centroid_id"))
          .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("sm"))
          .select(col("centroid_id"), transform(col("sm"), s => s.getField("mean")).as("ce"))
          .withColumn("cnrm", sqrt(dot(col("ce"), col("ce"))))
          .filter(col("cnrm") > 0)
          .persist()
        next.count(): Unit // materialize before releasing the previous round
        pinned.foreach(_.unpersist(): Unit)
        pinned = Some(next)
        centroids = next
      }
      val out = meansStep(assignStep(all, centroids))
        .select(col("centroid_id"), asLong(col("pos") + 1).as("dim"),
          asLong(col("n_members")).as("n_members"),
          (floor(col("mean") * 1000000 + 0.5).cast(DoubleType) / 1000000).as("new_val"))
        .orderBy("centroid_id", "dim")
      val rows = out.collect() // ≤ K×dim rows
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      pinned.foreach(_.unpersist(): Unit)
      all.unpersist(): Unit
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim8_kmeans_iterate" -> kmeansIterate,
    "sim7_kmeans_update" -> kmeansUpdate,
    "sim6_kmeans_assign" -> kmeansAssign,
    "sim5_int8_topk" -> int8TopK,
    "sim1_cosine_topk" -> cosineTopK,
    "sim23_mmr_topk" -> mmrTopK,
    "sim2_ivf_topk" -> ivfTopK,
    "sim3_lsh_topk" -> lshTopK,
    "sim4_lsh_rewrite" -> lshRewriteTopK,
    "sim9_recall_at_k" -> recallAtK,
    "sim10_pq_topk" -> pqTopK,
    "sim11_ivf_multiprobe" -> ivfMultiProbeTopK,
    "sim12_band_lsh" -> bandLshTopK,
    "sim13_ivf_pq" -> ivfPqTopK,
    "sim14_recall_bar" -> recallBar,
    "sim15_landed_ann" -> landedAnnTopK,
    "sim19_landed_range" -> landedRangeSearch,
    "sim20_random_projection" -> randomProjectionTopK,
    "sim21_filtered_ann" -> landedFilteredTopK,
    "sim16_ann_append" -> annAppendTopK,
    "sim17_bitext_mine" -> bitextMine,
    "sim18_index_delete" -> indexDeleteTopK,
    "sim22_index_compact" -> indexCompactTopK)

  // DuckDB mirror: same ordered fold via index-transform + list_sum over
  // doubles, same rank tie-break, same rounding.
  private val DotAB =
    "list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * be[i]))"

  /** sim23 mirror: the greedy MMR selection replayed as a RECURSIVE CTE —
    * each recursion step joins the one selected-so-far row per probe
    * against its remaining candidates, scores them with the same
    * `0.5·rel − 0.5·max sim-to-chosen` on the same ordered-fold cosines,
    * and takes ROW_NUMBER()=1 (score DESC, cand_id) — the argmax the
    * driver-side loop computes. `lazy` — references ProbeCount/MmrC/MmrK
    * (the Scala-object init-order rule). */
  // Candidate generation mirrors the SERVING path (r13): the sim11 CTE
  // prefix — probed-cell selection on exact BIGINT cell stats, candidates
  // only from probed cells, exact refine dot `d` — then relevance top-C.
  // The MMR selection tail below is byte-identical to the pre-r13 oracle.
  private lazy val MmrOracle: String =
    s"""${sim11PairsSql(NProbe).replaceFirst("WITH ", "WITH RECURSIVE\n")},
       |cand AS (SELECT query_id, vec_id AS cand_id, rel FROM (
       |    SELECT query_id, vec_id, d / (qnrm * nrm) AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rk
       |    FROM pairs) WHERE rk <= $MmrC),
       |ce AS (SELECT c.query_id, c.cand_id, z.ae, z.nrm
       |       FROM cand c JOIN nz z ON z.vec_id = c.cand_id),
       |psim AS (SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
       |           list_sum(list_transform(generate_series(1, len(a.ae)), i -> a.ae[i] * b.ae[i]))
       |             / (a.nrm * b.nrm) AS sim
       |         FROM ce a JOIN ce b ON a.query_id = b.query_id AND a.cand_id < b.cand_id),
       |sel AS (
       |  SELECT query_id, CAST(1 AS BIGINT) AS rank, cand_id, rel AS score, [cand_id] AS chosen
       |  FROM (SELECT query_id, cand_id, rel,
       |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rr
       |        FROM cand) WHERE rr = 1
       |  UNION ALL
       |  SELECT query_id, rank, cand_id, score, list_append(chosen, cand_id)
       |  FROM (
       |    SELECT ss.*, ROW_NUMBER() OVER (PARTITION BY query_id, rank
       |                                    ORDER BY score DESC, cand_id) AS rr
       |    FROM (
       |      SELECT s.query_id, s.rank + 1 AS rank, c.cand_id,
       |        0.5 * c.rel - 0.5 * (SELECT max(p2.sim) FROM psim p2
       |          WHERE p2.query_id = s.query_id
       |            AND ((p2.ca = c.cand_id AND list_contains(s.chosen, p2.cb))
       |              OR (p2.cb = c.cand_id AND list_contains(s.chosen, p2.ca)))) AS score,
       |        s.chosen
       |      FROM sel s JOIN cand c
       |        ON c.query_id = s.query_id AND NOT list_contains(s.chosen, c.cand_id)
       |      WHERE s.rank < $MmrK) ss
       |  ) WHERE rr = 1
       |)
       |SELECT query_id, rank, cand_id, round(score, 6) AS mmr_score
       |FROM sel ORDER BY query_id, rank""".stripMargin

  private def oracleSql(k: Int, joinCond: String): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae, label
       |           FROM embeddings),
       |n AS (SELECT vec_id, ae, label,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |p AS (SELECT vec_id AS query_id, ae AS qe, nrm AS qnrm, label AS qlabel
       |      FROM nz WHERE vec_id < $ProbeCount),
       |pairs AS (SELECT p.query_id, n.vec_id, p.qnrm, n.nrm,
       |            list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * ae[i])) AS d
       |          FROM nz n JOIN p ON $joinCond n.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, vec_id AS neighbor_id,
       |             d / (qnrm * nrm) AS cos,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
       |           FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** sim9 mirror: the sim1/sim2/sim3 CTE prefix (vectors + norms + sign
    * signatures), the exact and both approximate top-k arms at the same k,
    * then set-intersection counts per (method, probe). */
  private val RecallOracle: String = {
    val planeRows = (0 until NumPlanes).map { j =>
      s"($j, [${Planes(j).map(v => s"${v.toLong}.0").mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")
    def arm(alias: String, from: String, joinCond: String): String =
      s"""${alias}0 AS (SELECT p.query_id, n.vec_id, p.qnrm, n.nrm,
         |    list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * ae[i])) AS d
         |  FROM $from ON $joinCond n.vec_id <> p.query_id),
         |$alias AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |                         ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
         |    FROM ${alias}0) WHERE rank <= $IvfTopK)""".stripMargin
    def scored(method: String, alias: String): String =
      s"""SELECT '$method' AS method, b.query_id,
         |  CAST(b.n_exact AS BIGINT) AS n_exact,
         |  CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.h, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE) AS recall
         |FROM base b LEFT JOIN
         |  (SELECT ex.query_id, count(*) AS h
         |   FROM ex JOIN $alias a ON ex.query_id = a.query_id AND ex.vec_id = a.vec_id
         |   GROUP BY ex.query_id) h ON b.query_id = h.query_id""".stripMargin
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae, label
       |           FROM embeddings),
       |n0 AS (SELECT vec_id, ae, label,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz0 AS (SELECT * FROM n0 WHERE nrm > 0),
       |planes AS (SELECT * FROM (VALUES
       |        $planeRows) pl(j, r)),
       |sigs AS (SELECT nz0.vec_id,
       |          CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, len(nz0.ae)),
       |                                      i -> nz0.ae[i] * pl.r[i])) >= 0
       |                   THEN (CAST(1 AS BIGINT) << pl.j) ELSE 0 END) AS BIGINT) AS sig
       |        FROM nz0 CROSS JOIN planes pl GROUP BY nz0.vec_id),
       |nz AS (SELECT nz0.*, s.sig FROM nz0 JOIN sigs s ON nz0.vec_id = s.vec_id),
       |p AS (SELECT vec_id AS query_id, ae AS qe, nrm AS qnrm, label AS qlabel, sig AS qsig
       |      FROM nz WHERE vec_id < $ProbeCount),
       |${arm("ex", "nz n JOIN p", "")},
       |${arm("iv", "nz n JOIN p", "n.label = p.qlabel AND")},
       |${arm("ls", "nz n JOIN p", "n.sig = p.qsig AND")},
       |pqseeds AS (SELECT vec_id AS k, ae FROM nz WHERE vec_id < $PqK),
       |pqdists AS (SELECT nz.vec_id, g.m, s.k,
       |              list_sum(list_transform(generate_series(1, $PqSub),
       |                i -> (nz.ae[g.m * $PqSub + i] - s.ae[g.m * $PqSub + i])
       |                   * (nz.ae[g.m * $PqSub + i] - s.ae[g.m * $PqSub + i]))) AS d2
       |            FROM nz, generate_series(0, ${PqM - 1}) g(m), pqseeds s),
       |pqcodes AS (SELECT vec_id, m, k FROM (
       |              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                                           ORDER BY d2, k) AS rk
       |              FROM pqdists) WHERE rk = 1),
       |pqparts AS (SELECT p.query_id, c.vec_id, c.m,
       |              list_sum(list_transform(generate_series(1, $PqSub),
       |                i -> p.qe[c.m * $PqSub + i] * s.ae[c.m * $PqSub + i])) AS pt
       |            FROM pqcodes c JOIN pqseeds s ON c.k = s.k CROSS JOIN p
       |            WHERE c.vec_id <> p.query_id),
       |pqscores AS (SELECT query_id, vec_id,
       |               MAX(CASE WHEN m = 0 THEN pt END) + MAX(CASE WHEN m = 1 THEN pt END)
       |             + MAX(CASE WHEN m = 2 THEN pt END) + MAX(CASE WHEN m = 3 THEN pt END) AS score
       |             FROM pqparts GROUP BY query_id, vec_id),
       |pq AS (SELECT query_id, vec_id FROM (
       |         SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY score DESC, vec_id) AS rank
       |         FROM pqscores) WHERE rank <= $IvfTopK),
       |mp AS (SELECT query_id, neighbor_id AS vec_id FROM ($Sim11Oracle) mpx),
       |mb AS (SELECT query_id, neighbor_id AS vec_id FROM ($Sim12Oracle) mbx),
       |cp AS (SELECT query_id, neighbor_id AS vec_id FROM ($Sim13Oracle) cpx),
       |base AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id)
       |${scored("ivf", "iv")}
       |UNION ALL
       |${scored("lsh", "ls")}
       |UNION ALL
       |${scored("pq", "pq")}
       |UNION ALL
       |${scored("ivf_multi", "mp")}
       |UNION ALL
       |${scored("lsh_bands", "mb")}
       |UNION ALL
       |${scored("ivf_pq", "cp")}
       |ORDER BY method, query_id""".stripMargin
  }

  /** sim10 mirror: codewords from the seed rows (relational, equivalent to
    * the literals Spark embeds), per-(vector, subspace) L2 argmin with the
    * same (distance, k) tie-break, ADC parts pivoted into a FIXED-ORDER
    * m=0..3 sum (a bare SUM over the 4 parts would be order-nondeterministic
    * in doubles), same rank tie-break and rounding. */
  private val PqOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |           FROM embeddings),
       |n AS (SELECT vec_id, ae,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |seeds AS (SELECT vec_id AS k, ae FROM nz WHERE vec_id < $PqK),
       |dists AS (SELECT nz.vec_id, g.m, s.k,
       |            list_sum(list_transform(generate_series(1, $PqSub),
       |              i -> (nz.ae[g.m * $PqSub + i] - s.ae[g.m * $PqSub + i])
       |                 * (nz.ae[g.m * $PqSub + i] - s.ae[g.m * $PqSub + i]))) AS d2
       |          FROM nz, generate_series(0, ${PqM - 1}) g(m), seeds s),
       |codes AS (SELECT vec_id, m, k FROM (
       |            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                                         ORDER BY d2, k) AS rk
       |            FROM dists) WHERE rk = 1),
       |p AS (SELECT vec_id AS query_id, ae AS qe FROM nz WHERE vec_id < $ProbeCount),
       |parts AS (SELECT p.query_id, c.vec_id, c.m,
       |            list_sum(list_transform(generate_series(1, $PqSub),
       |              i -> p.qe[c.m * $PqSub + i] * s.ae[c.m * $PqSub + i])) AS pt
       |          FROM codes c JOIN seeds s ON c.k = s.k CROSS JOIN p
       |          WHERE c.vec_id <> p.query_id),
       |scores AS (SELECT query_id, vec_id,
       |             MAX(CASE WHEN m = 0 THEN pt END) + MAX(CASE WHEN m = 1 THEN pt END)
       |           + MAX(CASE WHEN m = 2 THEN pt END) + MAX(CASE WHEN m = 3 THEN pt END) AS score
       |           FROM parts GROUP BY query_id, vec_id),
       |ranked AS (SELECT query_id, vec_id AS neighbor_id, score,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY score DESC, vec_id) AS rank
       |           FROM scores)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       |       round(score, 6) AS adc_score
       |FROM ranked WHERE rank <= $IvfTopK ORDER BY query_id, rank""".stripMargin

  /** sim11 mirror: the same int8 grid (sim5's floor(+0.5) SQL), BIGINT cell
    * sums, the n²-scaled integer distance with the same (score, label)
    * tie-break, own-cell union, then the sim2 candidate join + rank.
    * Parameterized on the probe budget — sim14 reuses it at [[BarNProbe]]. */
  /** The sim11 candidate CTE chain (int8-grid cell selection + exact
    * cosine over the probed cells' members), WITHOUT a scoring tail —
    * shared by the top-k mirror ([[sim11OracleSql]]) and the range-search
    * mirror ([[Sim19Oracle]]), which differ only in what they keep. */
  private def sim11PairsSql(nProbe: Int): String =
    s"""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |           FROM embeddings),
       |n AS (SELECT vec_id, label, ae,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |qz AS (SELECT vec_id, label,
       |         list_transform(ae, x -> CAST(floor(x * 127.0
       |           / list_max(list_transform(ae, y -> abs(y))) + 0.5) AS BIGINT)) AS q
       |       FROM nz),
       |cells AS (SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s,
       |            CAST(count(*) AS BIGINT) AS cn
       |          FROM (SELECT label, unnest(generate_series(1, len(q))) AS dim,
       |                  unnest(q) AS qv FROM qz) t
       |          GROUP BY label, dim),
       |pq AS (SELECT vec_id AS query_id, unnest(generate_series(1, len(q))) AS dim,
       |         unnest(q) AS pqv
       |       FROM qz WHERE vec_id < $ProbeCount),
       |cscore AS (SELECT pq.query_id, c.label,
       |             CAST(sum((c.cn * pq.pqv - c.s) * (c.cn * pq.pqv - c.s)) AS BIGINT) AS score
       |           FROM pq JOIN cells c ON pq.dim = c.dim
       |           GROUP BY pq.query_id, c.label),
       |pcells AS (SELECT DISTINCT query_id, label FROM (
       |             SELECT query_id, label FROM (
       |               SELECT query_id, label,
       |                 ROW_NUMBER() OVER (PARTITION BY query_id
       |                                    ORDER BY score, label) AS rk
       |               FROM cscore) WHERE rk <= $nProbe
       |             UNION ALL
       |             SELECT vec_id AS query_id, label FROM nz
       |             WHERE vec_id < $ProbeCount) u),
       |p AS (SELECT vec_id AS query_id, ae AS qe, nrm AS qnrm FROM nz
       |      WHERE vec_id < $ProbeCount),
       |pairs AS (SELECT p.query_id, nz.vec_id, p.qnrm, nz.nrm,
       |            list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * ae[i])) AS d
       |          FROM nz JOIN pcells pc ON nz.label = pc.label
       |                  JOIN p ON p.query_id = pc.query_id AND nz.vec_id <> p.query_id)""".stripMargin

  private def sim11OracleSql(nProbe: Int): String =
    s"""${sim11PairsSql(nProbe)},
       |ranked AS (SELECT query_id, vec_id AS neighbor_id,
       |             d / (qnrm * nrm) AS cos,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
       |           FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= $IvfTopK ORDER BY query_id, rank""".stripMargin

  /** sim19 mirror: identical candidate generation, RANGE tail — keep every
    * candidate at or above the cosine threshold, no ranking window. */
  private lazy val Sim19Oracle: String =
    s"""${sim11PairsSql(NProbe)}
       |SELECT query_id, vec_id AS neighbor_id,
       |       round(d / (qnrm * nrm), 6) AS cos_sim
       |FROM pairs WHERE d / (qnrm * nrm) >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  private lazy val Sim11Oracle: String = sim11OracleSql(NProbe)

  /** sim14 mirror: the exact brute-force top-k and the [[BarNProbe]]
    * multi-probe arm (the parameterized sim11 mirror) intersected per
    * probe — the RecallOracle scoring tail for a single arm. */
  private lazy val RecallBarOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |           FROM embeddings),
       |n AS (SELECT vec_id, ae,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |p AS (SELECT vec_id AS query_id, ae AS qe, nrm AS qnrm FROM nz
       |      WHERE vec_id < $ProbeCount),
       |pairs AS (SELECT p.query_id, n.vec_id, p.qnrm, n.nrm,
       |            list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * ae[i])) AS d
       |          FROM nz n JOIN p ON n.vec_id <> p.query_id),
       |ex AS (SELECT query_id, vec_id FROM (
       |         SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
       |         FROM pairs) WHERE rank <= $IvfTopK),
       |ap AS (SELECT query_id, neighbor_id AS vec_id
       |       FROM (${sim11OracleSql(BarNProbe)}) bx),
       |base AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id)
       |SELECT b.query_id,
       |  CAST(b.n_exact AS BIGINT) AS n_exact,
       |  CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(h.h, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE) AS recall
       |FROM base b LEFT JOIN
       |  (SELECT ex.query_id, count(*) AS h
       |   FROM ex JOIN ap a ON ex.query_id = a.query_id AND ex.vec_id = a.vec_id
       |   GROUP BY ex.query_id) h ON b.query_id = h.query_id
       |ORDER BY b.query_id""".stripMargin

  /** sim18 mirror: sim13's computation over the SURVIVOR corpus — the
    * identical oracle text with the delete predicate applied in the v CTE
    * (every downstream CTE — quantization, cell stats, probe dims,
    * candidate lists — inherits the restriction, which is exactly what
    * the engine's tombstone + exact-stat-subtraction serve claims to
    * equal). Seeds and probes (`vec_id < $ProbeCount`) are protected by
    * the predicate, so both sides keep one codebook and probe set. */
  private lazy val Sim18Oracle: String = {
    val marker = "FROM embeddings)"
    require(Sim13Oracle.indexOf(marker) == Sim13Oracle.lastIndexOf(marker)
      && Sim13Oracle.contains(marker),
      "Sim13Oracle corpus CTE changed shape; update Sim18Oracle surgery")
    Sim13Oracle.replace(marker,
      s"FROM embeddings WHERE NOT (vec_id >= $ProbeCount AND vec_id % 7 = 3))")
  }

  /** sim13 mirror: Sim11's exact-integer cell selection CTEs composed with
    * PqOracle's codes/ADC-parts pattern, the parts join restricted to the
    * probed cells; same fixed-order pivot and (score DESC, vec_id) rank. */
  private lazy val Sim13Oracle: String =
    s"""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |           FROM embeddings),
       |n AS (SELECT vec_id, label, ae,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |qz AS (SELECT vec_id, label,
       |         list_transform(ae, x -> CAST(floor(x * 127.0
       |           / list_max(list_transform(ae, y -> abs(y))) + 0.5) AS BIGINT)) AS q
       |       FROM nz),
       |cells AS (SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s,
       |            CAST(count(*) AS BIGINT) AS cn
       |          FROM (SELECT label, unnest(generate_series(1, len(q))) AS dim,
       |                  unnest(q) AS qv FROM qz) t
       |          GROUP BY label, dim),
       |pdims AS (SELECT vec_id AS query_id, unnest(generate_series(1, len(q))) AS dim,
       |            unnest(q) AS pqv
       |          FROM qz WHERE vec_id < $ProbeCount),
       |cscore AS (SELECT pdims.query_id, c.label,
       |             CAST(sum((c.cn * pdims.pqv - c.s) * (c.cn * pdims.pqv - c.s)) AS BIGINT) AS score
       |           FROM pdims JOIN cells c ON pdims.dim = c.dim
       |           GROUP BY pdims.query_id, c.label),
       |pcells AS (SELECT DISTINCT query_id, label FROM (
       |             SELECT query_id, label FROM (
       |               SELECT query_id, label,
       |                 ROW_NUMBER() OVER (PARTITION BY query_id
       |                                    ORDER BY score, label) AS rk
       |               FROM cscore) WHERE rk <= $NProbe
       |             UNION ALL
       |             SELECT vec_id AS query_id, label FROM nz
       |             WHERE vec_id < $ProbeCount) u),
       |seeds AS (SELECT vec_id AS k, ae FROM nz WHERE vec_id < $PqK),
       |dists AS (SELECT nz.vec_id, g.m, s.k,
       |            list_sum(list_transform(generate_series(1, $PqSub),
       |              i -> (nz.ae[g.m * $PqSub + i] - s.ae[g.m * $PqSub + i])
       |                 * (nz.ae[g.m * $PqSub + i] - s.ae[g.m * $PqSub + i]))) AS d2
       |          FROM nz, generate_series(0, ${PqM - 1}) g(m), seeds s),
       |codes AS (SELECT vec_id, m, k FROM (
       |            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                                         ORDER BY d2, k) AS rk
       |            FROM dists) WHERE rk = 1),
       |p AS (SELECT vec_id AS query_id, ae AS qe FROM nz WHERE vec_id < $ProbeCount),
       |parts AS (SELECT p.query_id, c.vec_id, c.m,
       |            list_sum(list_transform(generate_series(1, $PqSub),
       |              i -> p.qe[c.m * $PqSub + i] * s.ae[c.m * $PqSub + i])) AS pt
       |          FROM codes c JOIN seeds s ON c.k = s.k
       |               JOIN nz z ON z.vec_id = c.vec_id
       |               JOIN pcells pc ON z.label = pc.label
       |               JOIN p ON p.query_id = pc.query_id
       |          WHERE c.vec_id <> p.query_id),
       |scores AS (SELECT query_id, vec_id,
       |             MAX(CASE WHEN m = 0 THEN pt END) + MAX(CASE WHEN m = 1 THEN pt END)
       |           + MAX(CASE WHEN m = 2 THEN pt END) + MAX(CASE WHEN m = 3 THEN pt END) AS score
       |           FROM parts GROUP BY query_id, vec_id),
       |ranked AS (SELECT query_id, vec_id AS neighbor_id, score,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY score DESC, vec_id) AS rank
       |           FROM scores)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       |       round(score, 6) AS adc_score
       |FROM ranked WHERE rank <= $IvfTopK ORDER BY query_id, rank""".stripMargin

  /** sim12 mirror: 18 banded plane literals, per-(vector, band) signatures
    * with bit = global plane index mod bits, OR-of-bands via the DISTINCT
    * candidate join, then the shared cosine rank. */
  /** VALUES rows of the banded plane literals — the SQL twin of
    * [[bandedSignatures]]' planes, used by [[Sim12Oracle]]. */
  private[graft] lazy val BandedPlanesSqlValues: String =
    (0 until NumBands * BandBits).map { j =>
      s"($j, [${BandedPlanes(j).map(v => s"${v.toLong}.0").mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")

  private lazy val Sim12Oracle: String = {
    val planeRows = BandedPlanesSqlValues
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |           FROM embeddings),
       |n AS (SELECT vec_id, ae,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |planes AS (SELECT * FROM (VALUES
       |        $planeRows) pl(j, r)),
       |sigs AS (SELECT nz.vec_id, pl.j // $BandBits AS band,
       |          CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, len(nz.ae)),
       |                                      i -> nz.ae[i] * pl.r[i])) >= 0
       |                   THEN (CAST(1 AS BIGINT) << (pl.j % $BandBits)) ELSE 0 END) AS BIGINT) AS sig
       |        FROM nz CROSS JOIN planes pl GROUP BY nz.vec_id, pl.j // $BandBits),
       |ps AS (SELECT * FROM sigs WHERE vec_id < $ProbeCount),
       |cand AS (SELECT DISTINCT ps.vec_id AS query_id, s.vec_id
       |         FROM sigs s JOIN ps ON s.band = ps.band AND s.sig = ps.sig
       |                             AND s.vec_id <> ps.vec_id),
       |p AS (SELECT vec_id AS query_id, ae AS qe, nrm AS qnrm FROM nz
       |      WHERE vec_id < $ProbeCount),
       |pairs AS (SELECT c.query_id, c.vec_id, p.qnrm, z.nrm,
       |            list_sum(list_transform(generate_series(1, len(p.qe)), i -> p.qe[i] * z.ae[i])) AS d
       |          FROM cand c JOIN nz z ON z.vec_id = c.vec_id
       |                      JOIN p ON p.query_id = c.query_id),
       |ranked AS (SELECT query_id, vec_id AS neighbor_id,
       |             d / (qnrm * nrm) AS cos,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
       |           FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= $IvfTopK ORDER BY query_id, rank""".stripMargin
  }

  private val Sim3Oracle: String = {
    val planeRows = (0 until NumPlanes).map { j =>
      s"($j, [${Planes(j).map(v => s"${v.toLong}.0").mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |           FROM embeddings),
       |n AS (SELECT vec_id, ae,
       |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
       |      FROM v),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |planes AS (SELECT * FROM (VALUES
       |        $planeRows) p(j, r)),
       |sigs AS (SELECT nz.vec_id,
       |          CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, len(nz.ae)),
       |                                      i -> nz.ae[i] * p.r[i])) >= 0
       |                   THEN (CAST(1 AS BIGINT) << p.j) ELSE 0 END) AS BIGINT) AS sig
       |        FROM nz CROSS JOIN planes p GROUP BY nz.vec_id),
       |pr AS (SELECT nz.vec_id AS query_id, nz.ae AS qe, nz.nrm AS qnrm, s.sig AS qsig
       |       FROM nz JOIN sigs s ON nz.vec_id = s.vec_id
       |       WHERE nz.vec_id < $ProbeCount),
       |pairs AS (SELECT pr.query_id, nz.vec_id, pr.qnrm, nz.nrm,
       |            list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * ae[i])) AS d
       |          FROM nz JOIN sigs s ON nz.vec_id = s.vec_id
       |                  JOIN pr ON s.sig = pr.qsig AND nz.vec_id <> pr.query_id),
       |ranked AS (SELECT query_id, vec_id AS neighbor_id,
       |             d / (qnrm * nrm) AS cos,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
       |           FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= $IvfTopK ORDER BY query_id, rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // two full Lloyd rounds; intermediate means stay UNROUNDED (exact IEEE
    // division of BIGINT sums — bit-identical cross-engine), only the final
    // output rounds half-up at 6 decimals (floor(x*1e6+0.5), round() ties
    // differ across engines)
    "sim8_kmeans_iterate" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
         |           FROM embeddings),
         |qz AS (SELECT vec_id,
         |         list_transform(e0, x -> floor(x * 127.0
         |           / list_max(list_transform(e0, y -> abs(y))) + 0.5)) AS ae
         |       FROM v
         |       WHERE list_max(list_transform(e0, y -> abs(y))) > 0),
         |n AS (SELECT vec_id, ae,
         |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
         |      FROM qz),
         |nz AS (SELECT * FROM n WHERE nrm > 0),
         |c0 AS (SELECT vec_id AS centroid_id, ae AS ce, nrm AS cnrm
         |       FROM nz WHERE vec_id < $NumCentroids),
         |p1 AS (SELECT nz.vec_id, nz.ae, c.centroid_id,
         |         list_sum(list_transform(generate_series(1, len(nz.ae)), i -> nz.ae[i] * c.ce[i]))
         |           / (nz.nrm * c.cnrm) AS cos
         |       FROM nz CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, ae, centroid_id,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rk
         |       FROM p1),
         |e1 AS (SELECT centroid_id, unnest(generate_series(1, len(ae))) AS dim, unnest(ae) AS qv
         |       FROM a1 WHERE rk = 1),
         |g1 AS (SELECT centroid_id, dim,
         |         CAST(sum(CAST(qv AS BIGINT)) AS DOUBLE) / count(*) AS mean
         |       FROM e1 GROUP BY centroid_id, dim),
         |c1 AS (SELECT * FROM (
         |         SELECT centroid_id, ce,
         |           sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm
         |         FROM (SELECT centroid_id, list(mean ORDER BY dim) AS ce
         |               FROM g1 GROUP BY centroid_id))
         |       WHERE cnrm > 0),
         |p2 AS (SELECT nz.vec_id, nz.ae, c.centroid_id,
         |         list_sum(list_transform(generate_series(1, len(nz.ae)), i -> nz.ae[i] * c.ce[i]))
         |           / (nz.nrm * c.cnrm) AS cos
         |       FROM nz CROSS JOIN c1 c),
         |a2 AS (SELECT vec_id, ae, centroid_id,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rk
         |       FROM p2),
         |e2 AS (SELECT centroid_id, unnest(generate_series(1, len(ae))) AS dim, unnest(ae) AS qv
         |       FROM a2 WHERE rk = 1)
         |SELECT centroid_id, CAST(dim AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  floor((CAST(sum(CAST(qv AS BIGINT)) AS DOUBLE) / count(*)) * 1000000 + 0.5)
         |    / 1000000 AS new_val
         |FROM e2 GROUP BY centroid_id, dim ORDER BY centroid_id, dim""".stripMargin,
    "sim7_kmeans_update" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
         |           FROM embeddings),
         |qz AS (SELECT vec_id,
         |         list_transform(e0, x -> floor(x * 127.0
         |           / list_max(list_transform(e0, y -> abs(y))) + 0.5)) AS ae
         |       FROM v
         |       WHERE list_max(list_transform(e0, y -> abs(y))) > 0),
         |n AS (SELECT vec_id, ae,
         |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
         |      FROM qz),
         |nz AS (SELECT * FROM n WHERE nrm > 0),
         |c AS (SELECT vec_id AS centroid_id, ae AS ce, nrm AS cnrm
         |      FROM nz WHERE vec_id < $NumCentroids),
         |pairs AS (SELECT nz.vec_id, nz.ae, c.centroid_id,
         |            list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ce[i]))
         |              / (nrm * cnrm) AS cos
         |          FROM nz CROSS JOIN c),
         |best AS (SELECT vec_id, ae, centroid_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY cos DESC, centroid_id) AS rk
         |         FROM pairs),
         |ex AS (SELECT centroid_id,
         |         unnest(generate_series(1, len(ae))) AS dim,
         |         unnest(ae) AS qv
         |       FROM best WHERE rk = 1)
         |SELECT centroid_id, CAST(dim AS BIGINT) AS dim,
         |       CAST(count(*) AS BIGINT) AS n_members,
         |       floor(CAST(sum(CAST(qv AS BIGINT)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS new_val
         |FROM ex GROUP BY centroid_id, dim ORDER BY centroid_id, dim""".stripMargin,
    "sim6_kmeans_assign" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
         |           FROM embeddings),
         |n AS (SELECT vec_id, ae,
         |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
         |      FROM v),
         |nz AS (SELECT * FROM n WHERE nrm > 0),
         |c AS (SELECT vec_id AS centroid_id, ae AS ce, nrm AS cnrm
         |      FROM nz WHERE vec_id < $NumCentroids),
         |pairs AS (SELECT nz.vec_id, c.centroid_id,
         |            list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ce[i]))
         |              / (nrm * cnrm) AS cos
         |          FROM nz CROSS JOIN c),
         |best AS (SELECT vec_id, centroid_id, cos,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY cos DESC, centroid_id) AS rk
         |         FROM pairs)
         |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(sum(CAST(round(cos, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_cos
         |FROM best WHERE rk = 1 GROUP BY centroid_id ORDER BY centroid_id""".stripMargin,
    "sim1_cosine_topk" -> oracleSql(TopK, ""),
    "sim23_mmr_topk" -> MmrOracle,
    "sim2_ivf_topk" -> oracleSql(IvfTopK, "n.label = p.qlabel AND "),
    "sim9_recall_at_k" -> RecallOracle,
    "sim10_pq_topk" -> PqOracle,
    "sim3_lsh_topk" -> Sim3Oracle,
    "sim11_ivf_multiprobe" -> Sim11Oracle,
    "sim12_band_lsh" -> Sim12Oracle,
    "sim13_ivf_pq" -> Sim13Oracle,
    // sim15 serves the SAME computation from the landed index — its
    // contract is row-identity with sim13, so it shares the oracle text
    "sim15_landed_ann" -> Sim13Oracle,
    "sim19_landed_range" -> Sim19Oracle,
    "sim20_random_projection" -> Sim20Oracle,
    "sim21_filtered_ann" -> Sim21Oracle,
    // sim16's append must reconstruct EXACTLY the full-build index, so it
    // too is oracle-checked against the full-corpus computation
    "sim16_ann_append" -> Sim13Oracle,
    // sim18: the tombstone delete must serve EXACTLY as a rebuild over the
    // survivors would — the oracle is Sim13Oracle with its corpus CTE
    // restricted by the same delete predicate (every downstream CTE —
    // stats, probes, candidates — inherits the restriction)
    "sim18_index_delete" -> Sim18Oracle,
    "sim22_index_compact" -> Sim18Oracle,
    "sim14_recall_bar" -> RecallBarOracle,
    "sim17_bitext_mine" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae, label
        |           FROM embeddings),
        |n AS (SELECT vec_id, label, ae,
        |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
        |      FROM v),
        |nz AS (SELECT * FROM n WHERE nrm > 0),
        |j AS (SELECT z.vec_id, z.label, z.ae, z.nrm, d.lang
        |      FROM nz z JOIN documents d ON d.doc_id = z.vec_id),
        |en AS (SELECT vec_id AS en_id, label, ae AS ee, nrm AS enrm FROM j WHERE lang = 'en'),
        |fx AS (SELECT vec_id AS src_id, lang AS src_lang, label, ae AS fe, nrm AS fnrm
        |       FROM j WHERE lang <> 'en'),
        |p AS (SELECT fx.src_id, fx.src_lang, en.en_id,
        |        list_sum(list_transform(generate_series(1, len(fx.fe)), i -> fx.fe[i] * en.ee[i]))
        |          / (fx.fnrm * en.enrm) AS cos
        |      FROM fx JOIN en ON fx.label = en.label),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos DESC, en_id) AS rk
        |      FROM p)
        |SELECT src_id, src_lang, en_id, round(cos, 6) AS cos_sim
        |FROM r WHERE rk = 1 ORDER BY src_id""".stripMargin,
    // sim4 is sim3's semantics derived by the optimizer rule — same oracle
    "sim4_lsh_rewrite" -> Sim3Oracle,
    "sim5_int8_topk" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
         |           FROM embeddings),
         |qz AS (SELECT vec_id,
         |         list_transform(e0, x -> floor(x * 127.0
         |           / list_max(list_transform(e0, y -> abs(y))) + 0.5)) AS ae
         |       FROM v
         |       WHERE list_max(list_transform(e0, y -> abs(y))) > 0),
         |n AS (SELECT vec_id, ae,
         |        sqrt(list_sum(list_transform(generate_series(1, len(ae)), i -> ae[i] * ae[i]))) AS nrm
         |      FROM qz),
         |nz AS (SELECT * FROM n WHERE nrm > 0),
         |p AS (SELECT vec_id AS query_id, ae AS qe, nrm AS qnrm
         |      FROM nz WHERE vec_id < $ProbeCount),
         |pairs AS (SELECT p.query_id, n.vec_id, p.qnrm, n.nrm,
         |            list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * ae[i])) AS d
         |          FROM nz n JOIN p ON n.vec_id <> p.query_id),
         |ranked AS (SELECT query_id, vec_id AS neighbor_id,
         |             d / (qnrm * nrm) AS cos,
         |             ROW_NUMBER() OVER (PARTITION BY query_id
         |                                ORDER BY d / (qnrm * nrm) DESC, vec_id) AS rank
         |           FROM pairs)
         |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin)
}
