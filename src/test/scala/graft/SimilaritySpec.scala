package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("brute-force top-k rank 1 matches hand-computed argmax") {
    val vecs = Catalog.table(spark, sf, "embeddings")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    val got = Similarity.cosineTopK(spark, sf).collect()
      .filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(got.nonEmpty)
    got.foreach { case (q, n) =>
      val best = (vecs - q).maxBy { case (id, v) => (cosine(vecs(q), v), -id) }._1
      assert(n == best, s"probe $q: engine=$n brute=$best")
    }
  }

  test("ivf top-k only returns same-cell neighbors") {
    val labels = Catalog.table(spark, sf, "embeddings")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val rows = Similarity.ivfTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("query_id")) == labels(r.getAs[Long]("neighbor_id")))
    }
  }

  test("cosine similarity is bounded and self-excluded") {
    val rows = Similarity.cosineTopK(spark, sf).collect()
    rows.foreach { r =>
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.000001 && c <= 1.000001)
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id"))
    }
  }

  // recallAtK is self-cleaning since the round-7 refactor (collects and
  // unpersists its exact set in a finally) — no clearCache finalizers here
  test("sim9 recall is an exact set intersection against brute force") {
    val rows = Similarity.recallAtK(spark, sf).collect()
    val methods = rows.map(_.getString(0)).toSet
    assert(methods === Set("ivf", "lsh", "pq", "ivf_multi", "lsh_bands", "ivf_pq"))
    rows.foreach { r =>
      val (nEx, nHits, rec) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nEx >= 1 && nHits >= 0 && nHits <= nEx)
      assert(rec == nHits.toDouble / nEx.toDouble)
    }
    // independent ground truth for one arm: ivf hits recomputed from the
    // two registry queries' own outputs (exact top-k at k=3 = first 3
    // ranks of sim1's k=5 result, same deterministic order)
    val exact = Similarity.cosineTopK(spark, sf).collect()
      .filter(_.getAs[Long]("rank") <= 3L)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val expectedHits = exact.intersect(ivf).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    rows.filter(_.getString(0) == "ivf").foreach { r =>
      assert(r.getLong(3) === expectedHits.getOrElse(r.getLong(1), 0L))
    }
  }

  test("sim11/sim12 multi-probe arms strictly dominate their single-probe parents") {
    val rows = Similarity.recallAtK(spark, sf).collect()
    def hits(m: String): Map[Long, Long] = rows.filter(_.getString(0) == m)
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    val (iv, mp) = (hits("ivf"), hits("ivf_multi"))
    val (ls, mb) = (hits("lsh"), hits("lsh_bands"))
    // candidate SUPERSET + exact rescoring ⇒ per-probe hits are monotone
    // (a superset candidate can displace an exact-top-k member only by
    // another exact-top-k member)…
    // getOrElse everywhere: a missing probe row must fail the >= assertion
    // with its message, not die in an opaque NoSuchElementException
    iv.keys.foreach { q =>
      def h(m: Map[Long, Long]): Long = m.getOrElse(q, 0L)
      assert(h(mp) >= h(iv), s"probe $q: multi-probe lost hits ${h(mp)} < ${h(iv)}")
      assert(h(mb) >= h(ls), s"probe $q: banded LSH lost hits ${h(mb)} < ${h(ls)}")
    }
    // …and the remedy must actually buy recall: strict aggregate dominance
    assert(mp.values.sum > iv.values.sum,
      s"ivf_multi ${mp.values.sum} must strictly beat ivf ${iv.values.sum}")
    assert(mb.values.sum > ls.values.sum,
      s"lsh_bands ${mb.values.sum} must strictly beat lsh ${ls.values.sum}")
    // bounded candidate growth, not brute force in disguise: every sim12
    // neighbor must share at least one of the 3 driver-recomputed band
    // signatures with its probe (i.e. it came out of an LSH bucket)
    import graft.expr.RandomHyperplanes.{BandBits, BandedPlanes, NumBands}
    val vecs = Catalog.table(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    def sigs(v: Array[Float]): Seq[Long] = (0 until NumBands).map { b =>
      (0 until BandBits).map { i =>
        var d = 0.0
        var x = 0
        while (x < v.length) { d += v(x).toDouble * BandedPlanes(b * BandBits + i)(x); x += 1 }
        if (d >= 0) 1L << i else 0L
      }.sum
    }
    val bandTopk = Similarity.bandLshTopK(spark, sf).collect()
    assert(bandTopk.nonEmpty)
    bandTopk.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(sigs(vecs(q)).zip(sigs(vecs(n))).exists { case (a, b) => a == b },
        s"sim12 pair ($q, $n) shares no band signature — not an LSH candidate")
    }
  }

  test("sim13 IVF-PQ neighbors come only from driver-recomputed probed cells") {
    // replicate the exact-integer cell selection (int8 grid, BIGINT cell
    // sums, n²-scaled distance, (score, label) tie-break, own-cell union)
    // and assert every engine neighbor's label is a probed cell
    val rows = Catalog.table(spark, sf, "embeddings").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray,
        r.getAs[Int]("label")))
      .filter { case (_, v, _) => v.exists(_ != 0f) }
    def grid(v: Array[Float]): Array[Long] = {
      val m = v.map(x => math.abs(x.toDouble)).max
      v.map(x => math.floor(x.toDouble * 127.0 / m + 0.5).toLong)
    }
    val labels = rows.map { case (id, _, l) => id -> l }.toMap
    val cells = rows.groupBy(_._3).view.mapValues { members =>
      val qs = members.map(m => grid(m._2))
      (qs.length.toLong, Array.tabulate(64)(d => qs.map(_(d)).sum))
    }.toMap
    def probedCells(v: Array[Float], own: Int): Set[Int] = {
      val pq = grid(v)
      val scored = cells.toSeq.map { case (label, (cn, s)) =>
        (label, (0 until 64).map(d => { val x = cn * pq(d) - s(d); x * x }).sum)
      }
      scored.sortBy { case (label, score) => (score, label) }
        .take(graft.operators.Similarity.NProbe).map(_._1).toSet + own
    }
    val got = graft.operators.Similarity.ivfPqTopK(spark, sf).collect()
    assert(got.nonEmpty)
    val vecById = rows.map { case (id, v, _) => id -> v }.toMap
    got.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val probed = probedCells(vecById(q), labels(q))
      assert(probed.contains(labels(n)),
        s"sim13 neighbor $n (cell ${labels(n)}) of probe $q outside probed cells $probed")
      assert(probed.size <= graft.operators.Similarity.NProbe + 1)
    }
  }

  test("sim14 clears the recall bar within its candidate-fraction bound") {
    import graft.operators.Similarity.{BarNProbe, RecallBar}
    val rows = Similarity.recallBar(spark, sf).collect()
    assert(rows.nonEmpty)
    // the BAR: aggregate recall over the probe set must clear RecallBar —
    // the acceptance criterion the sim9 scaladoc promises a registered
    // configuration for ("tuned until recall clears a bar")
    val (hits, exact) = (rows.map(_.getLong(2)).sum, rows.map(_.getLong(1)).sum)
    assert(hits.toDouble / exact >= RecallBar,
      s"aggregate recall ${hits.toDouble / exact} below the $RecallBar bar")
    // the BOUND: driver-recomputed probed cells (the sim13 spec's exact
    // integer cell selection, at BarNProbe) must cover ≤ (BarNProbe+1)
    // cells per probe and a bounded fraction of the corpus — the bar must
    // not be cleared by brute force in disguise
    val all = Catalog.table(spark, sf, "embeddings").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray,
        r.getAs[Int]("label")))
      .filter { case (_, v, _) => v.exists(_ != 0f) }
    def grid(v: Array[Float]): Array[Long] = {
      val m = v.map(x => math.abs(x.toDouble)).max
      v.map(x => math.floor(x.toDouble * 127.0 / m + 0.5).toLong)
    }
    val cellStats = all.groupBy(_._3).view.mapValues { members =>
      val qs = members.map(m => grid(m._2))
      (qs.length.toLong, Array.tabulate(64)(d => qs.map(_(d)).sum))
    }.toMap
    val cellSizes = all.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val n = all.length.toLong
    all.filter(_._1 < 10).foreach { case (q, v, own) =>
      val pq = grid(v)
      val probed = cellStats.toSeq.map { case (label, (cn, s)) =>
        (label, (0 until 64).map(d => { val x = cn * pq(d) - s(d); x * x }).sum)
      }.sortBy { case (label, score) => (score, label) }
        .take(BarNProbe).map(_._1).toSet + own
      assert(probed.size <= BarNProbe + 1)
      val frac = probed.toSeq.map(cellSizes).sum.toDouble / n
      assert(frac <= 0.85,
        s"probe $q candidate fraction $frac — the bar is being cleared by near-brute-force")
    }
  }

  test("sim10 PQ codes and ADC ranking match a driver-side reimplementation") {
    val vecs = Catalog.table(spark, sf, "embeddings")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray.map(_.toDouble))
      .filter { case (_, v) =>
        math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)) > 0 }
      .toMap
    val seeds = (0L until 8L).map(vecs)
    def code(v: Array[Double], m: Int): Int =
      (0 until 8).minBy { k =>
        var d = 0.0; var i = m * 16
        while (i < (m + 1) * 16) { val t = v(i) - seeds(k)(i); d += t * t; i += 1 }
        (d, k)
      }
    def adc(q: Array[Double], v: Array[Double]): Double =
      (0 until 4).map { m =>
        val cw = seeds(code(v, m))
        var s = 0.0; var i = m * 16
        while (i < (m + 1) * 16) { s += q(i) * cw(i); i += 1 }
        s
      }.sum
    val expected = (0L until 10L).flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .map(id => (id, adc(vecs(q), vecs(id))))
        .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => (q, (i + 1).toLong, id) }
    }.toSet
    val got = operators.Similarity.pqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSet
    assert(got == expected)
    // seed self-consistency: every seed encodes to its own codeword
    (0 until 8).foreach { k =>
      (0 until 4).foreach { m => assert(code(seeds(k), m) == k) }
    }
  }

  test("planted structure: ivf_multi beats the candidate-fraction floor") {
    // On sim9's structure-free fixture recall can never exceed the
    // candidate fraction (nothing for the quantizer to exploit). On a
    // corpus WITH cluster structure the same index must win outright:
    // high recall while scanning a small corpus fraction — the evidence a
    // "deploy IVF?" decision actually needs.
    val fx = Similarity.clusteredFixture(spark, sf)
    val (recall, fraction) = Similarity.ivfMultiRecallFraction(spark, fx, 1)
    assert(fraction <= 0.2,
      s"candidate fraction $fraction must stay <= 0.2 (nProbe=1, 10 cells)")
    assert(recall >= 0.8,
      s"recall $recall must clear 0.8 on the clustered corpus")
    assert(recall >= fraction + 0.5,
      s"index must beat the structure-free floor: recall=$recall fraction=$fraction")
  }

  test("sim8 iterated Lloyd: round 2 moves centroids off the seeds (sim7)") {
    // sim7 IS round 1's update; sim8 runs a second assign+update against
    // the rebuilt centroids. If the composition were broken (round 2
    // silently re-assigned against the seeds), the two outputs would
    // coincide row-for-row.
    val r1 = Similarity.kmeansUpdate(spark, sf).collect().map(_.toSeq).toSet
    val r2 = Similarity.kmeansIterate(spark, sf).collect().map(_.toSeq).toSet
    assert(r2.nonEmpty && r2.map(_.take(2)).size == r2.size)
    assert(r1 != r2,
      "round-2 codebook must differ from the single-round (seed) update")
    // every centroid keeps full dimensionality in the final codebook
    val dims = Similarity.kmeansIterate(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(dims.values.forall(_ == 64), s"ragged codebook: $dims")
  }

  test("sim20 JL projection: top-k matches driver recompute; corpus-wide distortion bounded") {
    val rows = operators.Similarity.randomProjectionTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 30, s"expected 10 probes x k=3, got ${rows.length}")
    // driver-side truth: project every vector with the SAME literal planes
    val planes = operators.Similarity.ProjPlanes
    assert(planes.length == 16 && planes.forall(_.length == 64),
      "projection matrix degenerate (the val-init-order trap)")
    val vecs = Catalog.table(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .filter { case (_, e) => math.sqrt(e.map(x => x * x).sum) > 0 }
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val proj = vecs.map { case (id, e) => id -> planes.map(r => dot(e, r)).toArray }.toMap
    val raw = vecs.toMap
    val probes = vecs.filter(_._1 < 10).map(_._1)
    // exact top-3 by projected cosine, same (desc, vec_id) tie-break
    probes.foreach { q =>
      val want = vecs.map(_._1).filter(_ != q)
        .map(n => (n, cos(proj(q), proj(n))))
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
      val got = rows.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq
      assert(got == want.toSeq, s"probe $q projected top-3 diverged from driver truth")
    }
    // JL fidelity over ALL probe x corpus pairs (no selection bias). On
    // structure-free data true cosines sit near 0, so k = 16 projection
    // noise (std ~ 1/2) dominates any absolute-difference bound; the
    // discriminating statistic is the CORRELATION between projected and
    // true cosine — measured ~0.25 for the live projection (signal std
    // 1/8 vs projection-noise std ~0.46), and ~0 (null std ~0.015 at
    // ~4500 pairs) for a broken/degenerate matrix.
    val ps = for (q <- probes; (n, _) <- vecs if n != q)
      yield cos(proj(q), proj(n))
    val ts = for (q <- probes; (n, e) <- vecs if n != q)
      yield cos(raw(q), e)
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val (ma, mb) = (a.sum / a.length, b.sum / b.length)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val (va, vb) = (a.map(x => (x - ma) * (x - ma)).sum,
        b.map(y => (y - mb) * (y - mb)).sum)
      cov / math.sqrt(va * vb)
    }
    val r = corr(ps, ts)
    assert(r > 0.15, f"proj/true cosine correlation $r%.3f — projection not preserving geometry")
    val meanAbs = ps.zip(ts).map { case (x, y) => math.abs(x - y) }.sum / ps.length
    assert(meanAbs < 0.6, f"corpus-wide mean distortion $meanAbs%.3f beyond k=16 noise")
  }

  test("sim23 MMR: a probe with fewer candidates than k emits min(|pool|, k) " +
    "ranks instead of crashing (sparse-cell edge)") {
    import org.apache.spark.sql.types._
    // a 2-candidate pool for one probe: the greedy loop must stop when
    // the pool runs dry (maxBy over an empty pool threw before r14) and
    // emit exactly 2 ranks — the recursive-CTE oracle's natural stop
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cand_id", LongType, nullable = false),
      StructField("rel", DoubleType, nullable = false),
      StructField("e", ArrayType(DoubleType), nullable = false),
      StructField("nrm", DoubleType, nullable = false)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(7L, 100L, 0.9, Seq(1.0, 0.0), 1.0),
      org.apache.spark.sql.Row(7L, 101L, 0.8, Seq(0.0, 1.0), 1.0))
    graft.expr.VectorExpressions.register(spark)
    val out = Similarity.mmrOver(spark, spark.createDataFrame(rows, schema))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 2, s"expected 2 ranks for a 2-candidate pool, got ${out.toSeq}")
    assert(out.map(_._2).toSeq == Seq(1L, 2L) && out.head._3 == 100L,
      s"greedy order wrong on the sparse pool: ${out.toSeq}")
  }

  test("sim23 MMR: serve arm argmaxes its landed candidates, exact arm " +
    "matches brute force, picks are strictly more diverse than relevance picks") {
    // registered arm (r13): candidates from the LANDED index's probed
    // cells, exact refine, top-C — the serving shape
    val mmr = Similarity.mmrTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cand = Similarity.landedMmrCandidates(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    // step 1 = pure relevance argmax OVER THE SERVED CANDIDATE POOL
    // (cell-pruned: the global brute-force argmax need not be probed)
    val mmrFirst = mmr.filter(_._2 == 1L).map(m => m._1 -> m._3).toMap
    val candBest = cand.groupBy(_._1).map { case (q, cs) =>
      q -> cs.maxBy(c => (c._3, -c._2))._2 }
    assert(mmrFirst == candBest,
      "serve arm's first pick must be the served-candidate relevance argmax")
    // every pick must come from the served pool
    val candSet = cand.map(c => (c._1, c._2)).toSet
    assert(mmr.forall(m => candSet((m._1, m._3))),
      "every MMR pick must be a served candidate")
    // the audited EXACT baseline arm (corpus×probes cross, the pre-r13
    // registered shape) keeps the global contract: its first pick is the
    // brute-force rank-1 neighbor
    val exactArm = Similarity
      .mmrOver(spark, Similarity.mmrCandidatesExact(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val topk = Similarity.cosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1)))
    val exactFirst = exactArm.filter(_._2 == 1L).map(m => m._1 -> m._3).toMap
    val bruteFirst = topk.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(exactFirst == bruteFirst,
      "exact arm's first pick must be the brute-force relevance argmax")
    // k distinct picks per probe
    mmr.groupBy(_._1).foreach { case (q, ps) =>
      assert(ps.map(_._3).distinct.length == Similarity.MmrK,
        s"probe $q: MMR picks must be $ps distinct candidates")
    }
    // DIVERSITY: averaged over probes, the max pairwise cosine among
    // MMR's k picks is below that of the top-k-by-relevance picks FROM
    // THE SAME SERVED POOL — the property the re-rank exists for (the
    // corpus HAS near-dup vectors, so plain relevance picks return
    // redundant neighbors; deterministic data, so this is a fixed
    // comparison, not a flaky statistic)
    def avgMaxPairSim(picks: Map[Long, Seq[Long]]): Double = {
      val vals = picks.toSeq.map { case (_, ids) =>
        val pairs = for {
          i <- ids.indices; j <- (i + 1) until ids.length
        } yield cosine(emb(ids(i)).map(_.toFloat), emb(ids(j)).map(_.toFloat))
        pairs.max
      }
      vals.sum / vals.size
    }
    val mmrPicks = mmr.groupBy(_._1).map { case (q, ps) =>
      q -> ps.sortBy(_._2).map(_._3).toSeq }
    val relPicks = cand.groupBy(_._1).map { case (q, cs) =>
      q -> cs.sortBy(c => (-c._3, c._2)).take(Similarity.MmrK).map(_._2).toSeq }
    val (dMmr, dRel) = (avgMaxPairSim(mmrPicks), avgMaxPairSim(relPicks))
    assert(dMmr < dRel,
      s"MMR picks must be more diverse than relevance top-k " +
        s"(avg max pairwise cos: MMR $dMmr vs top-k $dRel)")
  }

  test("sim12 band family: the legacy planes' multi-band degeneracy is " +
    "priced, and the keep-legacy decision holds at the served shape") {
    // r16 VERDICT ask #4 — sim12 has exactly the multi-band OR shape
    // dd16 measured degenerate under the correlated LCG plane family
    // (consecutive planes are one stride sequence shifted by Dim). This
    // pins the measurement that adjudicated keep-vs-migrate; everything
    // here is DETERMINISTIC (fixed corpus, fixed plane literals), so the
    // bounds are tight to the committed sf0.1 fixture — a regenerated
    // corpus re-rolls the constants and should re-run the decision via
    // Sim12Recall.profile. Full numbers in Sim12Recall's scaladoc.
    val dir = "/root/testdata/sf0.1"
    import graft.expr.RandomHyperplanes.{planeVal, dedupPlaneVal, NumBands}
    val (lc1, lr1) = Sim12Recall.profile(spark, dir, planeVal, 1, 10)
    val (lc3, lr3) = Sim12Recall.profile(spark, dir, planeVal, NumBands, 10)
    val (sc1, sr1) = Sim12Recall.profile(spark, dir, dedupPlaneVal, 1, 10)
    val (sc3, sr3) = Sim12Recall.profile(spark, dir, dedupPlaneVal, NumBands, 10)
    // independent bands: the 3-band OR serves ~exactly 3x the candidates
    // (disjoint equal-rate bands; measured 344 -> 1032)
    assert(sc3 >= sc1 * 27 / 10 && sc3 <= sc1 * 33 / 10,
      s"splitmix 3-band candidates off the independence line: $sc1 -> $sc3")
    // correlated bands overlap in what they catch: measured 868 -> 1930
    // (x2.22) — the degeneracy made visible in candidate volume
    assert(lc3 <= lc1 * 5 / 2,
      s"legacy 3-band candidates no longer show the correlation: $lc1 -> $lc3")
    // ...and in the recall MULTIPLIER: independent bands multiply recall
    // x2.6, correlated only x1.75 (the dd16 class, at sim12's shape)
    assert(sr3 / sr1 > lr3 / lr1 + 0.3,
      s"multi-band recall multiplier: splitmix ${sr3 / sr1} must beat " +
        s"legacy ${lr3 / lr1} — the correlation cost the pin documents")
    // the KEEP decision: at the served 3-band shape the legacy family's
    // larger buckets deliver strictly more absolute recall (0.21 vs
    // 0.13) at ~2x candidates with recall-per-candidate within ~15% —
    // migrating sim12 would reduce what its top-k contract prices
    assert(lr3 > sr3,
      s"legacy absolute recall@10 ($lr3) no longer beats splitmix ($sr3) " +
        "at 3 bands — re-run the Sim12Recall keep-vs-migrate decision")
    // sim3 — the SINGLE-band user of the same legacy family — gets the
    // same measured keep-decision (r17 verdict ask 6): at 1 band the
    // legacy planes' component bias makes ~2.5× bigger buckets (measured
    // 868 vs 344 candidates) and that bucket mass buys strictly higher
    // absolute recall@10 (0.12 vs 0.05) at sim3's served shape, so the
    // last LCG-plane user keeps its family as a measured choice, not an
    // omission. Recall-contracted families (dd16/dd19) still must use
    // splitmix — that rule is pinned above via the multiplier gap.
    assert(lr1 > sr1,
      s"sim3's 1-band keep-decision inverted: legacy recall@10 ($lr1) " +
        s"must beat splitmix ($sr1) — re-run Sim12Recall and " +
        "re-adjudicate the plane family")
    assert(lc1 > sc1 * 2,
      s"the mechanism behind sim3's keep-decision (legacy's ~2.5× bucket " +
        s"mass) is gone: $lc1 vs $sc1 candidates — re-measure")
  }
}
