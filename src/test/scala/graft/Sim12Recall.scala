package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Band-LSH recall profile (r16 VERDICT ask #4): price sim12's 3-band-OR
  * top-k recall under the legacy correlated LCG plane family
  * ([[graft.expr.RandomHyperplanes.planeVal]]) against dd16's independent
  * splitmix family ([[graft.expr.RandomHyperplanes.dedupPlaneVal]]), at
  * the probe/k shape sim12 actually serves.
  *
  * MEASURED (sf0.1, 2000 vectors, 10 probes, k=10 — deterministic, the
  * corpus and both plane families are fixed):
  *
  *   family    bands  candidates  recall@10
  *   legacy      1        868       0.120
  *   legacy      3       1930       0.210   (×1.75 recall, ×2.22 cand)
  *   splitmix    1        344       0.050
  *   splitmix    3       1032       0.130   (×2.60 recall, ×3.00 cand)
  *
  * Two findings, both pinned in SimilaritySpec:
  *
  *   1. The cross-band correlation dd16 measured IS present in sim12's
  *      family: the legacy 3-band OR multiplies recall only ×1.75 where
  *      independent bands deliver ×2.6 at exactly-3× candidates — the
  *      "triples recall at ≤3× the candidates" contract holds only for
  *      the splitmix family.
  *   2. MIGRATION AT THE SERVED SHAPE WOULD HURT: the legacy planes'
  *      component bias makes larger (less uniform) buckets, so at the
  *      same 3 bands legacy serves ~2× the candidates and strictly MORE
  *      absolute recall (0.21 vs 0.13); recall-per-candidate is within
  *      ~15% (1.09e-4 vs 1.26e-4). sim12's top-k contract prices
  *      absolute recall at its candidate budget, so it KEEPS the legacy
  *      family with the degeneracy measured and documented; dd16 —
  *      whose contract is recall against dd5's exact pair set — runs
  *      splitmix, where the multi-band OR is the whole mechanism.
  */
object Sim12Recall {
  import graft.expr.RandomHyperplanes._

  /** (candidate rows, mean recall@k) of a bands-OR candidate join over
    * the first 10 vec_ids as probes, ranked by exact cosine. */
  def profile(spark: SparkSession, dir: String,
      plane: (Int, Int) => Long, bands: Int, k: Int): (Long, Double) = {
    graft.expr.VectorExpressions.register(spark)
    def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
    val all = operators.Similarity.emb(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      all.count()
      def topIds(pairs: DataFrame): Map[Long, Set[Long]] = {
        val cos = dot(col("qe"), col("e")) / (col("qnrm") * col("nrm"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        pairs.withColumn("cos", cos)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("vec_id"))
          .collect().groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
      val probes = all.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qnrm"))
      val exact = topIds(all.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("query_id")))
      def sig(b: Int, e: Column): Column =
        (0 until BandBits).map { j =>
          val comps = (0 until Dim).map(i => plane(b * BandBits + j, i).toDouble)
          when(dot(e, typedlit(comps)) >= 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
      val withSig = (0 until bands).foldLeft(all)((df, b) =>
        df.withColumn(s"sig$b", sig(b, col("e"))))
      val probesS = withSig.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("query_id") +: col("e").as("qe") +:
          col("nrm").as("qnrm") +:
          (0 until bands).map(b => col(s"sig$b").as(s"qsig$b")): _*)
      val cond = (0 until bands)
        .map(b => col(s"sig$b") === col(s"qsig$b")).reduce(_ || _)
      val cand = withSig.join(broadcast(probesS),
        cond && col("vec_id") =!= col("query_id"))
      val nCand = cand.count()
      val got = topIds(cand)
      val perProbe = exact.map { case (q, ids) =>
        ids.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ids.size
      }
      (nCand, perProbe.sum / perProbe.size)
    } finally { all.unpersist(): Unit }
  }
}
