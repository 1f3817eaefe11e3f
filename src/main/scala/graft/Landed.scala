package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** Landed artifacts: the per-input values the engine builds once and then
  * serves to every later caller — persisted corpus-derived frames (the
  * dedup shingle/bigram/prefix/pairs/labels frames, the quality features,
  * p10's ranked build, mm6's signatures), driver-side results (the BPE
  * merge lists) and block stores named after their input dir
  * (`documents:<dir>`, `annidx@<dir>`, ...).
  *
  * One rule covers all of them:
  *
  *   - ONE live entry per artifact name: a (scope, value, release) triple.
  *     The scope is `(session, dir)` for frames, `dir` for block stores
  *     and driver-side values.
  *   - A call with the entry's scope whose value is still live is a HIT.
  *     Frames are live while `Dataset.storageLevel` is not NONE, so a
  *     `clearCache`/`unpersist` invalidates them and the next caller
  *     rebuilds and re-pins; stores and driver-side values are always
  *     live (each store site keeps its own existence check, e.g. the ANN
  *     index gates on its meta store, written last).
  *   - Any other call RELEASES the entry it displaces — non-blocking
  *     unpersist for frames, `BlockStore.dropStore` for stores — and then
  *     builds. The release is guarded: a release that throws (a stopped
  *     session's frame, say) cannot fail the new build.
  *   - BYPASS vs BARRIER under an armed [[graft.plans.PlanCapture]] sink:
  *     a bypassing artifact never serves a hit there, so the eager audit
  *     observes its full construction plans (frames are then served as
  *     raw, unpersisted, unregistered lineage); a barrier artifact keeps
  *     its persist, because the InMemoryRelation is what stops the
  *     optimizer inlining its expression chain into the consumer's scan
  *     filters (the hist/ngram/edit frames).
  *   - The input dir is assumed immutable within a session: the gate
  *     detects unpersist, not data changed under the same path.
  *
  * Each artifact name has its own lock, held across that artifact's build
  * only (dd8's fixpoint and BPE training run Spark jobs inside theirs), so
  * builds of different artifacts never wait on each other; a build may
  * call another artifact's accessor (labels → pairs → prefix rows → bigram
  * base), always down that dependency order. */
object Landed {

  private final class Slot {
    var scope: Any = null
    var value: AnyRef = null
    var release: () => Unit = () => ()
  }

  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  /** The live value of artifact `name` for `scope`, built (after releasing
    * the displaced entry) when there is none. `fresh` forces a miss. */
  def apply[T <: AnyRef](name: String, scope: Any, live: T => Boolean,
      release: T => Unit, fresh: Boolean = false)(build: => T): T = {
    val slot = slots.computeIfAbsent(name, _ => new Slot)
    slot.synchronized {
      val held = slot.value.asInstanceOf[T]
      if (!fresh && held != null && slot.scope == scope && live(held)) held
      else {
        val displaced = slot.release
        slot.scope = null
        slot.value = null
        slot.release = () => ()
        try displaced() catch { case NonFatal(_) => }
        val v = build
        slot.scope = scope
        slot.value = v
        slot.release = () => release(v)
        v
      }
    }
  }

  /** True while an eager-audit capture sink is armed. */
  def capturing: Boolean = graft.plans.PlanCapture.sink.isDefined

  /** A corpus-derived frame persisted MEMORY_AND_DISK per (session, dir).
    * `bypass`: under an armed capture sink, serve the raw lineage. */
  def frame(name: String, spark: SparkSession, dir: String,
      bypass: Boolean = false)(lineage: => DataFrame): DataFrame =
    if (bypass && capturing) lineage
    else pinned(name, spark, dir)(lineage.persist(StorageLevel.MEMORY_AND_DISK))

  /** A frame its own build persisted (dd8's converged labels), landed per
    * (session, dir). */
  def pinned(name: String, spark: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    apply[DataFrame](name, (spark, dir), _.storageLevel != StorageLevel.NONE,
      _.unpersist(blocking = false))(build)

  /** The block-store name `prefix + dir` (byte-identical to the names the
    * stores always had); the store this prefix held for another dir is
    * dropped. */
  def store(prefix: String, dir: String): String =
    apply[String](prefix, dir, _ => true,
      graft.sources.BlockStore.dropStore)(prefix + dir)
}
