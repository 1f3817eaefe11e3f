package graft

import graft.plans.PlanCapture
import graft.sources.BlockStore
import org.apache.spark.storage.StorageLevel

/** The landed-artifact lifecycle ([[Landed]]): one live entry per artifact
  * name, a hit on the same scope while the value is live, release of the
  * displaced entry on any other call, the capture-sink bypass per
  * artifact, and a guarded release. */
class LandedSpec extends SparkSpec {

  // each build has its own plan: Dataset.storageLevel looks the frame up
  // by plan, so equal lineages would report each other's cache
  private def counted(builds: java.util.concurrent.atomic.AtomicInteger) =
    spark.range(0, 10L + builds.incrementAndGet()).toDF("id")

  test("same scope and live value: a hit that builds nothing") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val a = Landed.frame("spec.hit", spark, "dir-a")(counted(builds))
    val b = Landed.frame("spec.hit", spark, "dir-a")(counted(builds))
    assert(a eq b, "a live same-scope call must serve the landed frame")
    assert(builds.get == 1)
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    a.unpersist(blocking = true)
  }

  test("a new scope releases the displaced frame and the displaced dir's stores") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val a = Landed.frame("spec.miss", spark, "dir-a")(counted(builds))
    val b = Landed.frame("spec.miss", spark, "dir-b")(counted(builds))
    assert(builds.get == 2 && (a ne b))
    assert(a.storageLevel == StorageLevel.NONE, "displaced frame still persisted")
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    b.unpersist(blocking = true)

    val (dirA, dirB) = ("/landed-spec/a", "/landed-spec/b")
    val storeA = Landed.store("spec-landed:", dirA)
    assert(storeA == s"spec-landed:$dirA", "store names must stay byte-identical")
    Catalog.table(spark, sf, "documents")
      .write.format("graft.sources.BlockStoreSource")
      .option("store", storeA).mode("overwrite").save()
    assert(BlockStore.storeNames.contains(storeA))
    assert(Landed.store("spec-landed:", dirA) == storeA)
    assert(BlockStore.blockCount(storeA) > 0, "a same-dir call dropped the store")
    val storeB = Landed.store("spec-landed:", dirB)
    assert(storeB == s"spec-landed:$dirB")
    assert(!BlockStore.storeNames.contains(storeA),
      "the displaced dir's store survived the move to another dir")
  }

  test("storage-level gate: after unpersist the next call rebuilds") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val a = Landed.frame("spec.gate", spark, "dir-a")(counted(builds))
    a.unpersist(blocking = true)
    val b = Landed.frame("spec.gate", spark, "dir-a")(counted(builds))
    assert(builds.get == 2 && (a ne b))
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    spark.catalog.clearCache()
    val c = Landed.frame("spec.gate", spark, "dir-a")(counted(builds))
    assert(builds.get == 3 && (c ne b), "clearCache must invalidate the landing")
    c.unpersist(blocking = true)
  }

  test("an armed capture sink bypasses bypassing artifacts, not barriers") {
    // no cached plan for either lineage, so storageLevel reads what the
    // call itself persisted
    spark.catalog.clearCache()
    PlanCapture.sink = Some(new java.util.concurrent.ConcurrentLinkedQueue())
    val (raw, barrier) = try {
      (operators.TextAnalysis.qualityShared(spark, sf),
        operators.Dedup.minhashPieces(spark, sf)._1)
    } finally PlanCapture.sink = None
    assert(raw.storageLevel == StorageLevel.NONE,
      "a bypassing artifact must serve raw lineage to an armed sink")
    assert(barrier.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "a barrier artifact must keep its persist under an armed sink")
    assert(operators.Dedup.minhashPieces(spark, sf)._1 eq barrier)
    val landed = operators.TextAnalysis.qualityShared(spark, sf)
    assert(landed.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(operators.TextAnalysis.qualityShared(spark, sf) eq landed)
  }

  test("a release that throws cannot fail the displacing build") {
    val released = new java.util.concurrent.atomic.AtomicInteger(0)
    def land(scope: String): String =
      Landed[String]("spec.throwing", scope, _ => true, _ => {
        released.incrementAndGet()
        throw new IllegalStateException("release on a stopped session")
      })(s"value-$scope")
    assert(land("a") == "value-a")
    assert(land("b") == "value-b")
    assert(released.get == 1)
    assert(land("b") == "value-b" && released.get == 1)
    // a fresh call never hits: it rebuilds and releases the entry it displaces
    assert(Landed[String]("spec.throwing", "b", _ => true, _ => (),
      fresh = true)("rebuilt") == "rebuilt")
    assert(released.get == 2)
  }
}
