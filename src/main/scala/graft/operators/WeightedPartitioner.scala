package graft.operators

import graft.Catalog
import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable

/** Size-aware reduce partitioner — the Spark-native form of the reference's
  * heuristic shuffle pre-scheduler (reference `sim/sim.py:223-263`,
  * `schedule_with_pre`: a largest-first min-heap assignment of reduce
  * tasks to hosts from predicted reduce sizes, followed by a probabilistic
  * locality swap; predicted sizes come from the map-output size vectors the
  * reference tracks in `MapOutputTracker.scala`).
  *
  * The mapping, piece by piece:
  *   - "predicted reduce size per task" → per-KEY weights, obtainable in
  *     Spark from a cheap pre-aggregation (`groupBy(key).count`) or any
  *     prior statistics source;
  *   - "largest-first into the least-loaded host" → greedy LPT bin-packing
  *     of weighted keys into `numPartitions` bins, done ONCE driver-side
  *     over the (small) distinct-key weight list — never over rows;
  *   - "locality swap" (reference `sim/sim.py:249-258` acceptance loop,
  *     `swap_task` at `sim.py:198-220`) → the OPT-IN `locality` parameter:
  *     each key may carry a preferred partition and the fraction of its
  *     map-side bytes already there. Walking keys largest-first, a key is
  *     moved to its preferred bin with probability equal to its locality
  *     fraction normalized against the uniform baseline (the reference's
  *     `(prob - 1/m) / (1 - 1/m)`, seeded RNG → deterministic partitioner),
  *     exchanging it for resident keys totalling at most 1.1× its weight
  *     (the reference's bound at `sim.py:211`; candidates that would
  *     overshoot are skipped, and a swap needs at least one key moving
  *     back, both as in `swap_task`). HARDENING beyond the reference: a
  *     swap is also rejected if it would push the target bin past 1.1× the
  *     LPT maximum, so locality can cost at most 10% of the balance LPT
  *     bought (spec-asserted). In Spark terms this trades shuffle-fetch
  *     volume (reduce-side locality) against balance the same way the
  *     paper's pre-scheduler does; executor-side placement of the
  *     resulting partitions remains the task scheduler's job, and runtime
  *     re-balancing of what no prediction caught is AQE's (SkewJoinSpec).
  *
  * Greedy LPT guarantees max-load ≤ (4/3 − 1/(3m)) × optimum for m bins —
  * so a key-weight skew that would pin a hash partition at ~p× the mean
  * lands within a constant of balanced. Keys absent from the weight map
  * (new data since the stats pass) fall back to hash partitioning, i.e.
  * the partitioner degrades to Spark's default rather than failing.
  *
  * When to use at 100 TB: a repeated heavy aggregation whose key
  * histogram is known (daily pipeline over stable keys) and whose skew is
  * too coarse for AQE's post-shuffle split (e.g. one key = 40% of rows in
  * a `reduceByKey` where splitting the key would break semantics).
  */
class WeightedKeyPartitioner(
    override val numPartitions: Int,
    weights: Seq[(Any, Long)],
    locality: Seq[(Any, Int, Double)] = Nil,
    swapSeed: Long = 42L) extends Partitioner {
  require(numPartitions > 0, s"numPartitions must be positive: $numPartitions")
  // a duplicate key would be LPT-assigned twice: its load split across two
  // bins in the accounting while every row routes to the LAST assignment —
  // the 4/3 bound and the swap caps would then hold against fiction
  require(weights.map(_._1).distinct.size == weights.size,
    "WeightedKeyPartitioner: duplicate keys in weights — pre-aggregate " +
      "per-key loads first")

  // deterministic LPT: sort by (weight desc, key-hash) so equal weights
  // break ties stably; min-heap of (load, bin) keyed by load then bin id.
  // If `locality` is non-empty, the reference's probabilistic locality-swap
  // pass runs on top (see class scaladoc) — still fully deterministic
  // (seeded RNG), which a Partitioner must be: every executor that
  // deserializes this object must route identically.
  private val assignment: Map[Any, Int] = {
    val heap = scala.collection.mutable.PriorityQueue
      .empty[(Long, Int)](Ordering.by[(Long, Int), (Long, Int)](x => (-x._1, -x._2)))
    (0 until numPartitions).foreach(b => heap.enqueue((0L, b)))
    val sorted = weights.sortBy { case (k, w) => (-w, k.hashCode) }
    val loads = Array.fill(numPartitions)(0L)
    val binKeys = Array.fill(numPartitions)(
      scala.collection.mutable.ArrayBuffer.empty[(Any, Long)])
    val cur = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    sorted.foreach { case (k, w) =>
      val (_, bin) = heap.dequeue()
      cur(k) = bin
      loads(bin) += w
      binKeys(bin) += ((k, w))
      heap.enqueue((loads(bin), bin))
    }
    if (locality.nonEmpty) {
      val pref = locality.map { case (k, p, f) => k -> ((p, f)) }.toMap
      val rng = new scala.util.Random(swapSeed)
      val maxLpt = loads.max
      val targetCap = (1.1 * maxLpt).toLong // hardening: balance floor
      sorted.foreach { case (k, w) =>
        pref.get(k).foreach { case (p, frac) =>
          // normalized acceptance probability, the reference's
          // (prob - 1/m) / (1 - 1/m) with the uniform baseline = 1/bins
          val nor = (frac - 1.0 / numPartitions) / (1.0 - 1.0 / numPartitions)
          val from = cur(k)
          // rng consumed on every eligible candidate (as in the reference's
          // per-task loop), so acceptance of key i doesn't shift key j's draw
          if (p >= 0 && p < numPartitions && p != from && nor > rng.nextDouble()) {
            // move-back set: resident keys totalling <= 1.1x this key's
            // weight; overshooting candidates are skipped, not terminal
            var size = 0L
            val back = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
            binKeys(p).foreach { case kb @ (_, w2) =>
              if (size + w2 <= (1.1 * w).toLong) { size += w2; back += kb }
            }
            val newTarget = loads(p) - size + w
            // both ends of the swap must respect the balance cap: the origin
            // bin receives the move-back set (up to 1.1x the departing
            // weight, a net +0.1w), so chained swaps could otherwise push it
            // past the documented 10%-worse-than-LPT bound
            val newOrigin = loads(from) - w + size
            if (back.nonEmpty && newTarget <= targetCap && newOrigin <= targetCap) {
              back.foreach { case kb @ (k2, _) =>
                cur(k2) = from
                binKeys(p) -= kb
                binKeys(from) += kb
              }
              binKeys(from) -= ((k, w))
              binKeys(p) += ((k, w))
              cur(k) = p
              loads(p) = newTarget
              loads(from) = newOrigin
            }
          }
        }
      }
    }
    cur.toMap
  }

  private def fallback(key: Any): Int = {
    val h = if (key == null) 0 else key.hashCode % numPartitions
    if (h < 0) h + numPartitions else h
  }

  override def getPartition(key: Any): Int =
    assignment.getOrElse(key, fallback(key))

  override def equals(other: Any): Boolean = other match {
    case p: WeightedKeyPartitioner =>
      p.numPartitions == numPartitions && p.assignment == assignment
    case _ => false
  }
  override def hashCode(): Int = 31 * numPartitions + assignment.hashCode()
}

/** w1: the partitioner driven by REAL data — the end-to-end registered form
  * of the reference's pre-scheduler (`sim/sim.py:223-263`), previously
  * reachable only from spec fixtures.
  *
  * A deliberately skewed reduce key is derived from lineitem (suppkeys
  * below [[WeightedKeyPartitioner.CollapseBelow]] collapse to key 0, ~30%
  * of all rows — a key no hash partition can balance around), then:
  *
  *   1. histogram pre-agg: `groupBy(skey).count` — partial-aggregated
  *      map-side, the driver sees |distinct keys| rows (bounded, ~70 here;
  *      at 100 TB this is the stored key-frequency statistic);
  *   2. locality preferences: each key reports bin `key mod m` holding 60%
  *      of its map-side bytes (a deterministic stand-in for the map-output
  *      size vectors the reference reads from its MapOutputTracker) — the
  *      swap pass therefore actually runs, exercised end-to-end;
  *   3. the aggregation itself: `reduceByKey` UNDER the partitioner —
  *      each map task first folds its rows into one (count, sum) partial
  *      per key, so the skewed key ships one partial per input partition,
  *      never its raw rows.
  *
  * The oracle is the plain GROUP BY: the partitioner must change WHERE
  * work lands (spec-asserted within the 4/3 LPT bound on this real
  * histogram, locality swap included) while never changing WHAT is
  * computed. */
object WeightedKeyPartitioner {
  private[graft] val NumBins = 8
  private[graft] val CollapseBelow = 30L

  /** (histogram, partitioner) for `dir`'s lineitem under the collapsed
    * key — shared by the w1 query and the real-distribution spec. */
  private[graft] def partitionerFor(
      spark: SparkSession, dir: String): (Seq[(Any, Long)], WeightedKeyPartitioner) = {
    val hist = skeyed(spark, dir).groupBy("skey").agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0): Any, r.getLong(1))).toSeq
    val locality = hist.map { case (k, _) =>
      (k, (k.asInstanceOf[Long] % NumBins).toInt, 0.6) }
    (hist, new WeightedKeyPartitioner(NumBins, hist, locality))
  }

  private def skeyed(spark: SparkSession, dir: String): DataFrame =
    Catalog.table(spark, dir, "lineitem").select(
      when(col("l_suppkey") < CollapseBelow, 0L)
        .otherwise(col("l_suppkey")).cast(LongType).as("skey"),
      col("l_partkey").cast(LongType).as("pk"))

  def weightedAgg(spark: SparkSession, dir: String): DataFrame = {
    val (_, part) = partitionerFor(spark, dir)
    // the map side reads Catalyst rows and folds each partition into one
    // (count, sum) partial per key, so neither a Row nor a boxed pair is
    // made per input row
    val partials = skeyed(spark, dir).queryExecution.toRdd.mapPartitions { rows =>
      val acc = new mutable.LongMap[Array[Long]]()
      rows.foreach { r =>
        val a = acc.getOrElseUpdate(r.getLong(0), new Array[Long](2))
        a(0) += 1
        a(1) += r.getLong(1)
      }
      acc.iterator
    }
    val agg = partials
      .reduceByKey(part, (a, b) => Array(a(0) + b(0), a(1) + b(1)))
      .map { case (k, a) => InternalRow(k, a(0), a(1)) }
    val schema = StructType(Seq(
      StructField("skey", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("sum_partkey", LongType, nullable = false)))
    GraftSqlBridge.fromInternalRows(spark, agg, schema).orderBy("skey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("w1_weighted_shuffle" -> weightedAgg)

  val oracles: Map[String, String] = Map(
    "w1_weighted_shuffle" ->
      s"""SELECT CAST(CASE WHEN l_suppkey < $CollapseBelow THEN 0 ELSE l_suppkey END AS BIGINT) AS skey,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(l_partkey) AS BIGINT) AS sum_partkey
         |FROM lineitem GROUP BY skey ORDER BY skey""".stripMargin)
}
