package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.Catalog
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The two-tier BLOCK STORE behind [[BlockStoreSource]] — the engine's
  * analogue of the reference daemon's put/get surface
  * (`deploy/Daemon.scala:45-75`: `putBlock` → memory store, `getBlock` →
  * serve bytes to a later reader), re-expressed as the storage half of a
  * Spark DataSourceV2 connector instead of a bespoke RPC protocol. The
  * memory tier is BOUNDED by a byte budget with LRU demotion to a disk
  * tier (the reference's `evictBlocksToFreeSpace` behavior — see the
  * memory-envelope section below), so the store's capacity is disk-,
  * not heap-, limited.
  *
  * Blocks are written EXECUTOR-SIDE (`ensureLoaded` runs a
  * `foreachPartition` job — each task puts its own partition's rows, no
  * driver funnel, matching the daemon's "map task pushes its block"
  * shape) and carry min/max key stats, the `getShuffleStatus` metadata
  * the read side prunes on. The store is JVM-local: exactly the
  * reference's deployment assumption (a daemon co-resident with the
  * executors holding blocks in memory), which `local[32]` satisfies with
  * executors and driver in one JVM. On a multi-node cluster this object
  * is the piece that becomes a per-node service; the CONNECTOR half
  * ([[BlockStoreSource]]) is deployment-independent — `planInputPartitions`
  * / `PartitionReader` would fetch from the local daemon instance the
  * same way.
  *
  * Rows are held as plain Scala tuples, not `InternalRow`: the read path
  * materializes `UTF8String`s only for the columns the scan actually
  * requires, so column pruning saves real decode work per row — the same
  * economics as parquet's column skipping, observable in the spec.
  */
/** Deterministic PRIMARY + BACKUP placement for store blocks — the
  * reference's `scache.shuffle.replication` semantics
  * (`MapOutputTracker.scala:193-217`: reduce i gets primary
  * `clientList(i % n)` plus `numRep` random distinct non-primary backups)
  * re-expressed as a PURE function of (store, shard, cluster size):
  * the reference randomizes at registration and remembers the answer in
  * the tracker; making placement a pure function needs no tracker state
  * at all — any node recomputes any block's hosts, which is also what
  * lets independently-acting writers agree on backup targets. local[32]
  * cannot demonstrate real multi-node fault tolerance, so the CONTRACT
  * (determinism, distinctness, balance) is what the spec pins.
  */
object Placement {

  /** Hosts for block `shard` of `store` on a cluster of `nHosts`:
    * head = primary (round-robin over hosts, the reference's `i % n`),
    * tail = min(nReplicas, nHosts−1) distinct backups chosen by a
    * deterministic seeded rotation of the non-primary hosts (the
    * reference's `Random.shuffle(backups).slice(0, numRep)` with the
    * randomness replaced by a (store, shard) hash, so backup load
    * spreads across hosts instead of always hitting primary+1). */
  def hostsFor(store: String, shard: Int, nHosts: Int,
      nReplicas: Int): Seq[Int] = {
    require(nHosts > 0, s"placement needs a positive cluster size, got $nHosts")
    require(shard >= 0, s"placement needs a non-negative shard, got $shard")
    val r = math.min(math.max(0, nReplicas), nHosts - 1)
    val primary = shard % nHosts
    if (r == 0) Seq(primary)
    else {
      val seed = scala.util.hashing.MurmurHash3.stringHash(store) * 31 + shard
      val others = (1 until nHosts).map(k => (primary + k) % nHosts)
      val rot = math.floorMod(seed, others.length)
      val walk = others.drop(rot) ++ others.take(rot)
      primary +: walk.take(r)
    }
  }
}

object BlockStore {

  /** (doc_id, text, lang, source, n_chars) — [[graft.Catalog.documents]]
    * field order. */
  type DocRow = (Long, String, String, String, Long)

  /** One stored block. Stats (min/max, size, dictionaries) are computed
    * once at put time and stay RESIDENT in memory in both tiers — pruning
    * and planning never touch a payload. The PAYLOAD lives in the memory
    * tier until the store's byte budget forces an LRU demotion to the
    * disk tier (see the memory-envelope section below); [[rows]] serves
    * from whichever tier currently holds it. */
  final class Block(val minId: Long, val maxId: Long,
      rows0: Array[DocRow], val shard: Int = -1) {
    val numRows: Long = rows0.length.toLong
    /** Approximate in-memory payload size — computed once at put time (the
      * daemon knows its block sizes without re-reading payloads). */
    val bytes: Long =
      rows0.iterator.map(r => 24L + r._2.length + r._3.length + r._4.length).sum
    /** Per-block DICTIONARY stats for the low-cardinality columns —
      * parquet's dictionary-page trick on the daemon's metadata surface:
      * computed once at put time, consulted by the scan to skip whole
      * blocks for lang/source equality predicates. Both columns are
      * bounded-cardinality by construction (languages, crawl sources), so
      * the sets cost a few dozen bytes per block at any corpus size. */
    /** Dictionary VALUE COUNTS (not just membership): what grouped
      * COUNT(*) pushdown aggregates across blocks without opening any
      * payload. Bounded cardinality ⇒ bounded bytes per block. */
    val langCounts: Map[String, Long] =
      rows0.iterator.map(_._3).toSeq.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
    val sourceCounts: Map[String, Long] =
      rows0.iterator.map(_._4).toSeq.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
    val langs: Set[String] = langCounts.keySet
    val sources: Set[String] = sourceCounts.keySet

    @volatile private var mem: Array[DocRow] = rows0
    /** OFF-HEAP middle tier: the payload serialized into a DIRECT
      * ByteBuffer — real native memory outside the GC'd heap (the
      * reference's OFF_HEAP StorageLevel, `storage/StorageLevel.scala:150-162`,
      * shipped enabled at 1024 MB in `conf/scache.conf:1-5`). Opt-in by
      * budget, like `spark.memory.offHeap.enabled`. */
    @volatile private var offHeapBuf: java.nio.ByteBuffer = null
    @volatile private var file: java.nio.file.Path = null
    /** LRU clock stamp of the last payload access (put counts as one). */
    @volatile private[sources] var lastAccess: Long = tickClock()

    def isInMemory: Boolean = mem != null
    def isOffHeap: Boolean = offHeapBuf != null
    /** Native bytes this block holds in the off-heap tier (0 if none). */
    def offHeapHeld: Long = {
      val b = offHeapBuf
      if (b == null) 0L else b.capacity.toLong
    }
    /** Which tier currently serves the payload (spec surface). */
    def tier: String =
      if (mem != null) "memory" else if (offHeapBuf != null) "offheap" else "disk"

    /** The payload, from whichever tier holds it. Neither an off-heap nor
      * a disk read re-promotes (the reference's DiskStore serves reads in
      * place; promotion policy belongs to the caller) — but both advance
      * the LRU stamp so a later promotion decision could see recency. */
    def rows: Array[DocRow] = {
      lastAccess = tickClock()
      val m = mem
      if (m != null) m
      else {
        val oh = offHeapBuf
        if (oh != null) {
          offHeapReads.incrementAndGet()
          // read through a private duplicate: the shared buffer's
          // position/limit must not race concurrent readers
          val dup = oh.duplicate()
          val bytes = new Array[Byte](dup.capacity)
          dup.rewind()
          dup.get(bytes)
          decodeRows(bytes)
        } else {
          diskReads.incrementAndGet()
          readBlockFile(file)
        }
      }
    }

    /** Demote the heap payload one tier down (called under the eviction
      * lock): to the off-heap tier when `toOffHeap` (the tier is enabled
      * and budgeted), else to disk. Disk is write-once: a block
      * re-demoted after budget churn reuses its existing file. In-flight
      * readers that already grabbed the array reference finish safely —
      * demotion only drops the ref. */
    private[sources] def demote(toOffHeap: Boolean): Unit = {
      val m = mem
      if (m != null) {
        var landed = false
        if (toOffHeap) {
          val bytes = encodeRows(m)
          // HEADROOM check before allocateDirect (under the eviction
          // lock): a full tier must not transiently overshoot its budget
          // — the overshoot is real native allocation and can hit
          // -XX:MaxDirectMemorySize and OOM inside the eviction lock.
          // A block the tier cannot hold goes straight to disk (the
          // bytes are already the disk encoding — no re-serialization).
          if (offHeapBytesUsed.get + bytes.length <= offHeapBudget) {
            val buf = java.nio.ByteBuffer.allocateDirect(bytes.length)
            buf.put(bytes)
            offHeapBuf = buf
            offHeapBytesUsed.addAndGet(bytes.length.toLong): Unit
            offHeapBlockCount.incrementAndGet(): Unit
            landed = true
          } else if (file == null) file = writeBlockBytes(bytes)
        }
        if (!landed && file == null) file = writeBlockFile(m)
        mem = null
      }
    }

    /** Spill the off-heap payload to the disk tier (the envelope's second
      * eviction stage, under the eviction lock). The direct buffer is
      * released to the GC; its native memory frees on collection. */
    private[sources] def spillOffHeap(): Unit = {
      val oh = offHeapBuf
      if (oh != null) {
        if (file == null) {
          val dup = oh.duplicate()
          val bytes = new Array[Byte](dup.capacity)
          dup.rewind()
          dup.get(bytes)
          file = writeBlockBytes(bytes)
        }
        offHeapBuf = null
        offHeapBytesUsed.addAndGet(-oh.capacity.toLong): Unit
      }
    }
  }

  object Block {
    def apply(minId: Long, maxId: Long, rows: Array[DocRow],
        shard: Int = -1): Block = new Block(minId, maxId, rows, shard)
  }

  private val stores = new ConcurrentHashMap[String, Array[Block]]()

  /** Read-only TIME-TRAVEL aliases (`name@@vN`), held OUTSIDE [[stores]]:
    * aliases share Block references with live stores and history, so
    * listing them as tables (the catalog's listTables) would surface
    * pseudo-tables, and counting them in [[memoryUsed]] would bill shared
    * payloads once per containing array and trigger premature LRU
    * demotion. They are resolvable through [[get]] but invisible to
    * [[storeNames]]; accounting de-duplicates by block identity. */
  private val snapshotAliases = new ConcurrentHashMap[String, Array[Block]]()

  // ---- pinned scan snapshots ---------------------------------------------
  //
  // A planned batch (or micro-batch) names its blocks by INDEX, and a
  // DELETE's copy-on-write rewrite shifts the visible array's positions —
  // so a reader resolving indices against the CURRENT array could silently
  // serve wrong blocks if a DELETE committed between planning and
  // execution. Planning therefore PINS the exact block array it indexed
  // under a snapshot id; readers resolve through the pin, which is
  // immutable by construction (promote/delete swap the array reference,
  // never mutate it). Retention is bounded (an LRU of recent pins — far
  // above any concurrent-scan count); an expired pin fails LOUDLY rather
  // than falling back to the mutable array.

  // pins are tagged with their store so dropStore can release them: a
  // dropped store's payloads must not stay strongly reachable through
  // stale plans (the one unaccounted-retention path; pins of REWRITTEN
  // blocks deliberately survive — in-flight scans finish on the snapshot
  // they planned, and the LRU cap bounds the residue)
  private val pinnedSnaps =
    new ConcurrentHashMap[Long, (String, Array[Block])]()
  private val pinSeq = new AtomicLong(0)
  private val pinOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val MaxPinnedSnaps = 256

  private[sources] def pinSnapshot(store: String,
      blocks: Array[Block]): Long = {
    val id = pinSeq.incrementAndGet()
    pinnedSnaps.put(id, (store, blocks)): Unit
    pinOrder.add(java.lang.Long.valueOf(id)): Unit
    while (pinnedSnaps.size > MaxPinnedSnaps) {
      val old = pinOrder.poll()
      if (old != null) pinnedSnaps.remove(old.longValue): Unit
    }
    id
  }

  private[sources] def pinned(id: Long): Array[Block] = {
    val a = pinnedSnaps.get(id)
    require(a != null, s"scan snapshot $id expired (store dropped, or " +
      s"more than $MaxPinnedSnaps scans planned since) — re-plan the query")
    a._2
  }

  /** [[pinned]] with a SAFE expiry fallback: a persisted DataFrame's
    * partitions embed their snap id, and a cache-evicted partition
    * recomputed after `MaxPinnedSnaps` later scans finds its pin expired
    * even though the store is intact. Under an UNCHANGED layout
    * generation the visible array is append-only, so positional indices
    * still name the exact blocks planning indexed — re-resolve against
    * the current array. A bumped generation means a rewrite
    * (DELETE/OPTIMIZE/truncate) shifted positions: fail loudly, as
    * before. `gen` must be captured BEFORE planning read the array (the
    * caller's contract) so any rewrite racing the plan shows up as a
    * mismatch here rather than a silent mis-resolution.
    *
    * Seqlock read order (readers hold no lock): capture the ARRAY first,
    * THEN validate the generation. Every rewrite path (promoteInto/
    * delete/optimize/drop, all under fenceLock) bumps the generation
    * BEFORE and AFTER the swap (the parity seqlock at [[bumpLayoutGen]]),
    * and planners capture [[stableLayoutGeneration]] (always even), so a
    * post-array generation read that still equals the planned one proves
    * NO rewrite overlapped plan→read: an overlapping rewrite leaves the
    * final generation odd (in flight) or ≥ planned+2 (completed), both
    * failing the equality loudly. The previous check-then-act order
    * (validate, then get) let a rewrite land between the two and hand
    * back a silently re-numbered array. */
  private[sources] def pinnedOrCurrent(id: Long, store: String,
      gen: Long): Array[Block] = {
    val a = pinnedSnaps.get(id)
    if (a != null) a._2
    else {
      val arr = get(store)
      val now = layoutGeneration(store)
      require(now == gen, s"scan snapshot $id expired AND store '$store' " +
        s"was rewritten since planning (layout generation $now != $gen) — " +
        "positional re-resolution is unsafe; re-plan the query")
      arr
    }
  }

  // ---- live streaming readers (the DELETE/TRUNCATE fence) ----------------
  //
  // Streaming offsets are POSITIONAL block counts, sound because the
  // visible array's committed prefix is append-only. A DELETE rewrite or a
  // truncating overwrite breaks that invariant, so both are FENCED while
  // any streaming reader is live on the store: loud refusal, never a
  // silently re-numbered replay. (Batch scans need no fence — they pin
  // their snapshot above.)

  // A live-reader fence alone cannot protect a STOPPED stream whose
  // checkpoint persists: a DELETE/OPTIMIZE between stop and restart would
  // silently re-number the positional replay. Every layout REWRITE
  // therefore bumps the store's generation; stream offsets embed the
  // generation they were minted under, and a restart over a bumped store
  // fails loudly instead of serving re-numbered blocks. Appends never
  // bump (positions are stable under append).
  private val layoutGens = new ConcurrentHashMap[String, AtomicLong]()

  // PARITY SEQLOCK: every rewrite bumps the generation TWICE — once
  // BEFORE the array swap (entering the odd in-flight window) and once
  // AFTER it ([[completeLayoutRewrite]], restoring even parity). Readers
  // hold no lock; the pairing is what makes the pin-expiry fallback and
  // plan-time generation capture sound:
  //   - planners read [[stableLayoutGeneration]] (spins past odd), so a
  //     captured generation always names a stable layout;
  //   - a rewrite overlapping ANY part of plan→read leaves the final
  //     generation different from the captured one (bump1 if the capture
  //     preceded it, bump2 if it raced the swap), so the fallback's
  //     equality check fails LOUDLY — a single pre-swap bump let a scan
  //     planned between bump and swap embed the post-rewrite generation
  //     with the pre-rewrite array and silently mis-resolve after pin
  //     expiry (r14 review finding).
  private def bumpLayoutGen(name: String): Unit =
    layoutGens.computeIfAbsent(name, _ => new AtomicLong(0))
      .incrementAndGet(): Unit

  /** The rewrite's closing bump (call in a finally — an exception mid-swap
    * must not strand the odd parity) + the off-heap resync flag, set
    * AFTER the swap so a concurrent enforceBudget cannot consume it
    * against the pre-rewrite arrays (r14 review finding). */
  private def completeLayoutRewrite(name: String): Unit = {
    bumpLayoutGen(name)
    // the rewrite can discard off-heap blocks without spilling them,
    // leaving offHeapBytesUsed stale-HIGH until the next enforceBudget
    // stage-2 resync — flag it so stage 1's demote headroom check
    // resyncs FIRST instead of misrouting evictions to disk
    rewroteSinceOffHeapSync.set(true)
  }

  /** Planner-side generation read: spins past a rewrite's odd (in-flight)
    * parity window so captured generations always name a STABLE layout
    * (bounded by the rewrite's in-memory swap — microseconds). */
  private[sources] def stableLayoutGeneration(name: String): Long = {
    var g = layoutGeneration(name)
    while ((g & 1L) == 1L) { Thread.onSpinWait(); g = layoutGeneration(name) }
    g
  }

  def layoutGeneration(name: String): Long = {
    val g = layoutGens.get(name)
    if (g == null) 0L else g.get()
  }

  private val liveStreams =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  /** Serializes stream-reader REGISTRATION against layout rewrites: the
    * fence in promoteInto/deleteWhere/optimize is check-then-act (require
    * no live readers, bump the generation, swap the array) — without a
    * shared lock a stream registering between the require and the swap
    * would mint offsets under the new generation over the OLD array and
    * replay re-numbered positions silently. All three rewrite sections and
    * registerStreamReader hold this lock; it is driver-side-only and never
    * held while a Spark job runs (lock order: fenceLock → evictionLock;
    * eviction paths never take fenceLock). The generation check at offset
    * resolution remains the backstop for STOPPED streams' checkpoints. */
  private val fenceLock = new Object

  /** Registers a live stream reader and returns a TOKEN (the counter
    * instance) the caller must pass back to [[unregisterStreamReader]]:
    * dropStore removes a store's counter even while streams are
    * registered (deliberately — a re-run starts clean), and without the
    * token a STALE stream's stop() would decrement a successor stream's
    * fresh counter and let DELETE/OPTIMIZE through while that successor
    * is live (fence theft — r14 review finding). */
  private[graft] def registerStreamReader(store: String): AnyRef =
    fenceLock.synchronized {
      val c = liveStreams.computeIfAbsent(store,
        _ => new java.util.concurrent.atomic.AtomicInteger(0))
      c.incrementAndGet(): Unit
      c
    }

  private[graft] def unregisterStreamReader(store: String,
      token: AnyRef): Unit = {
    val c = liveStreams.get(store)
    // decrement only the counter this stream registered on — after a
    // dropStore the map holds a different (or no) instance
    if (c != null && (c eq token)) c.updateAndGet(n => math.max(0, n - 1)): Unit
  }

  def liveStreamReaders(store: String): Int = {
    val c = liveStreams.get(store)
    if (c == null) 0 else c.get()
  }

  // ---- memory envelope: byte budget + LRU demotion to the disk tier ----
  //
  // The reference's defining storage behavior is a BOUNDED memory tier:
  // a put that would exceed the budget evicts least-recently-used blocks
  // to the disk store until the new block fits
  // (`/root/reference/src/main/scala/org/scache/storage/memory/MemoryStore.scala:466-542`
  // `evictBlocksToFreeSpace`), with the budget derived as a fraction of
  // the heap (`UnifiedMemoryManager.scala:146-176`). Re-expressed here:
  // every visible put runs the same enforce-after-insert loop, demoted
  // payloads land in a JVM-local disk tier as length-prefixed binary
  // files, and ALL block metadata (min/max, dictionaries, sharding) stays
  // memory-resident in both tiers so pruning and SPJ planning are
  // tier-independent. At 100 TB this is the property that lets a node
  // hold its shard of a corpus larger than its RAM — the one §1.3
  // capability a purely in-memory map could not claim.

  /** Default budget mirrors the reference's unified-memory fraction:
    * 0.6 × (maxHeap − 300 MB reserved). Never reached at test SFs, so the
    * mechanism is ON by default without perturbing existing stores. */
  private def defaultBudget: Long =
    (0.6 * (Runtime.getRuntime.maxMemory - 300L * 1024 * 1024)).toLong

  @volatile private var budget: Long = defaultBudget
  def memoryBudget: Long = budget

  /** Set the memory-tier byte budget and enforce it immediately (the
    * spec's overfill entry point; production would set this once from
    * conf at daemon start). */
  def setMemoryBudget(b: Long): Unit = { budget = b; enforceBudget() }
  def resetMemoryBudget(): Unit = setMemoryBudget(defaultBudget)

  // ---- OFF-HEAP middle tier (memory → off-heap → disk) -------------------
  //
  // The reference's StorageLevel lattice includes OFF_HEAP
  // (`storage/StorageLevel.scala:150-162`) and its shipped conf budgets it
  // at 1024 MB (`conf/scache.conf:1-5`); Spark's analogue is
  // `spark.memory.offHeap.enabled/.size` — DISABLED unless sized, which
  // this tier mirrors: budget 0 (default) demotes heap payloads straight
  // to disk exactly as before; a positive budget inserts serialized
  // DIRECT ByteBuffers between them. What the tier buys at scale: demoted
  // blocks stop pressuring the GC (native memory, no heap objects) but
  // still serve ~disk-free at memory speed; the disk tier remains the
  // unbounded floor. Eviction is two-stage LRU under one lock: heap over
  // budget → demote LRU payloads (to off-heap if it has room); off-heap
  // over ITS budget → spill its LRU buffers to disk.

  @volatile private var offHeapBudget: Long = 0L
  def offHeapTierBudget: Long = offHeapBudget

  /** Enable/resize the off-heap tier and enforce both budgets at once. */
  def setOffHeapBudget(b: Long): Unit = {
    offHeapBudget = math.max(0L, b); enforceBudget()
  }
  def resetOffHeapBudget(): Unit = setOffHeapBudget(0L)

  /** Native bytes currently held by the off-heap tier. */
  def offHeapUsed: Long = distinctBlocks(_.isOffHeap).iterator
    .map(_.offHeapHeld).sum

  /** Blocks currently holding an off-heap buffer — the cheap existence
    * check that lets [[enforceBudget]] skip its stage-2 full scan when
    * the tier is idle (the default: budget 0, nothing off-heap). */
  private val offHeapBlockCount = new AtomicLong(0)
  /** Native bytes the off-heap tier currently holds — maintained
    * incrementally (demote adds, spill subtracts, both under the eviction
    * lock) so the HEADROOM check in demote is O(1), and re-synced to the
    * identity-dedup scan at the end of [[enforceBudget]] (blocks discarded
    * by DELETE/OPTIMIZE/drop leave the tier without spilling — the same
    * self-heal as the block counter). */
  private val offHeapBytesUsed = new AtomicLong(0)
  /** Set by [[bumpLayoutGen]] (all rewrite paths); consumed by
    * [[enforceBudget]] to resync the off-heap counters BEFORE stage 1's
    * demote loop reads them (r13 ADVICE: stale-high counters after a
    * rewrite misrouted evictions to disk until the stage-2 resync). */
  private val rewroteSinceOffHeapSync =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Off-heap-tier reads served (the three-tier spec's metric). */
  val offHeapReads = new AtomicLong(0)
  /** Off-heap buffers spilled to the disk tier over the JVM's lifetime. */
  val offHeapSpills = new AtomicLong(0)

  private val clock = new AtomicLong(0)
  private def tickClock(): Long = clock.incrementAndGet()

  /** Disk-tier reads served (the two-tier spec's metric). */
  val diskReads = new AtomicLong(0)
  /** Blocks demoted memory → disk over the JVM's lifetime. */
  val demotions = new AtomicLong(0)

  /** Every distinct block matching `p` across stores AND snapshot
    * aliases, de-duplicated by IDENTITY: versions/aliases share Block
    * references, and billing a shared payload once per containing array
    * would inflate usage and force premature demotion. */
  private def distinctBlocks(p: Block => Boolean): Array[Block] = {
    import scala.jdk.CollectionConverters._
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Block, java.lang.Boolean]())
    (stores.values().asScala.iterator ++
        snapshotAliases.values().asScala.iterator ++
        // HISTORY arrays too: a rewritten-away block retained only by a
        // time-travel version still holds its heap payload — leaving it
        // out under-reported memoryUsed and made such blocks permanently
        // un-demotable, so heap grew with commit count until vacuum
        // (r14 review finding); identity-dedup collapses the sharing
        history.values().asScala.iterator.flatMap(_.iterator)
          .filter(_ != null))
      .flatMap(_.iterator)
      .filter(b => p(b) && seen.add(b))
      .toArray
  }

  /** Bytes currently held by the memory tier across all visible stores. */
  def memoryUsed: Long =
    distinctBlocks(_.isInMemory).iterator.map(_.bytes).sum

  /** Dedicated eviction monitor — NOT `BlockStore.this`: the ensure*
    * loaders hold this object's monitor on the DRIVER thread while their
    * load job runs, and the job's tasks call [[put]] → [[enforceBudget]]
    * executor-side in the same JVM; sharing the monitor would deadlock
    * the load (driver waits for tasks, tasks wait for the driver's lock). */
  private val evictionLock = new Object

  /** Evict least-recently-used in-memory payloads to the disk tier until
    * the memory tier fits the budget — the reference's
    * `evictBlocksToFreeSpace` loop (selection ordered by last access;
    * a just-put block carries the freshest stamp, so it is evicted last,
    * matching the reference's "don't evict what you're writing"). */
  private def enforceBudget(): Unit = evictionLock.synchronized {
    // a rewrite since the last sync may have discarded off-heap blocks
    // without spilling (counters stale-HIGH): resync before stage 1's
    // demote loop reads the headroom, or post-rewrite evictions would be
    // misrouted to disk even though the tier has room. Cheap when the
    // tier is idle (counter already 0 → scan skipped).
    if (rewroteSinceOffHeapSync.getAndSet(false)) {
      if (offHeapBlockCount.get > 0) {
        val oh = distinctBlocks(_.isOffHeap)
        offHeapBlockCount.set(oh.length.toLong)
        offHeapBytesUsed.set(oh.iterator.map(_.offHeapHeld).sum)
      } else {
        // count == 0 means no off-heap block is visible (the counter is
        // never stale-LOW), so the byte counter must be 0 too — zero it
        // unconditionally rather than leave a rewrite's stale-high bytes
        // behind with the flag already consumed (r15 advice)
        offHeapBytesUsed.set(0L)
      }
    }
    var used = memoryUsed
    if (used > budget) {
      val lru = distinctBlocks(_.isInMemory).sortBy(_.lastAccess)
      var i = 0
      while (used > budget && i < lru.length) {
        // land in the off-heap tier when it is enabled (budget > 0); its
        // own budget is enforced in the second stage below
        lru(i).demote(toOffHeap = offHeapBudget > 0)
        demotions.incrementAndGet()
        used -= lru(i).bytes
        i += 1
      }
    }
    // stage 2: the off-heap tier over ITS budget spills LRU to disk —
    // skipped entirely while the tier is idle (the cheap-path guard: a
    // full identity-dedup scan per put would tax every loader for a
    // tier that holds nothing)
    // count == 0 alone suffices: the counter is never stale-LOW (demote
    // increments it before a block becomes off-heap-visible; rewrites
    // only leave it stale-HIGH, which keeps the scan running until the
    // tail resync below) — requiring budget == 0 as well made an
    // enabled-but-empty tier pay this full identity-dedup scan per put
    if (offHeapBlockCount.get == 0) return
    val ohArr = distinctBlocks(_.isOffHeap)
    var ohUsed = ohArr.iterator.map(_.offHeapHeld).sum
    var visible = ohArr.length
    if (ohUsed > offHeapBudget) {
      val lru = ohArr.sortBy(_.lastAccess)
      var i = 0
      while (ohUsed > offHeapBudget && i < lru.length) {
        val held = lru(i).offHeapHeld
        lru(i).spillOffHeap()
        offHeapSpills.incrementAndGet()
        ohUsed -= held
        visible -= 1
        i += 1
      }
    }
    // SELF-HEAL the idle guard: blocks discarded by DELETE/OPTIMIZE/drop
    // leave the visible sets without spilling, which would otherwise pin
    // the counters high (disabling the cheap path; shrinking demote
    // headroom) forever — re-sync both to what this scan actually saw
    offHeapBlockCount.set(visible.toLong)
    offHeapBytesUsed.set(math.max(0L, ohUsed))
  }

  // disk tier: one temp dir per JVM, length-prefixed binary block files
  private lazy val diskDir: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-blockstore-disk")
  private val fileSeq = new AtomicLong(0)

  private def writeStr(out: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(b.length)
    out.write(b)
  }

  private def readStr(in: java.io.DataInputStream): String = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** One length-prefixed binary encoding shared by BOTH demoted tiers —
    * an off-heap buffer and a disk file hold identical bytes, so spilling
    * off-heap → disk is a byte copy, never a re-serialization. */
  private[graft] def encodeRows(rows: Array[DocRow]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(1024)
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(rows.length)
    rows.foreach { r =>
      out.writeLong(r._1); writeStr(out, r._2); writeStr(out, r._3)
      writeStr(out, r._4); out.writeLong(r._5)
    }
    out.flush()
    bos.toByteArray
  }

  private[graft] def decodeRows(bytes: Array[Byte]): Array[DocRow] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    Array.fill(in.readInt()) {
      (in.readLong(), readStr(in), readStr(in), readStr(in), in.readLong())
    }
  }

  private def writeBlockBytes(bytes: Array[Byte]): java.nio.file.Path = {
    val p = diskDir.resolve(s"block-${fileSeq.incrementAndGet()}.bin")
    java.nio.file.Files.write(p, bytes): Unit
    p
  }

  private def writeBlockFile(rows: Array[DocRow]): java.nio.file.Path =
    writeBlockBytes(encodeRows(rows))

  private def readBlockFile(p: java.nio.file.Path): Array[DocRow] =
    decodeRows(java.nio.file.Files.readAllBytes(p))

  /** Readers opened since JVM start — the pruning spec diffs this around
    * scans to count how many blocks a query actually touched. */
  val readersOpened = new AtomicLong(0)

  private[sources] def put(name: String, block: Block): Unit = {
    stores.compute(name, (_, v) =>
      if (v == null) Array(block) else v :+ block): Unit
    enforceBudget()
  }

  // ---- write-path staging (the putBlock → commit visibility protocol) ----
  //
  // A task's DataWriter stages its block here at TASK commit (the block
  // lands on the "daemon" immediately, executor-side — the reference's
  // putBlock); the block becomes VISIBLE to readers only when the driver's
  // JOB commit promotes the staged set atomically. An aborted job leaves
  // the visible store untouched and the staging area is discarded — the
  // exactly-once story every V2 sink owes its readers.

  private val staged =
    new ConcurrentHashMap[String, ConcurrentHashMap[Int, Block]]()

  // ---- staged-write crash consistency ------------------------------------
  //
  // At 100 TB writer death between task-level staging and the job commit is
  // ROUTINE, and a crashed writer's staged blocks are invisible garbage the
  // store would otherwise hold forever. Two signals decide what is orphaned:
  //
  //  - a WRITE LEASE: the batch write path registers its unique staging key
  //    when execution starts (createBatchWriterFactory) and releases it at
  //    job commit/abort. A key with a live lease is never an orphan. On a
  //    cluster deployment the lease would be heartbeat-backed (the
  //    reference's daemon tracks client liveness the same way); in-JVM the
  //    release is explicit, and a crashed writer's lease is expired by the
  //    vacuum caller via `minAgeMs`'s companion [[expireWriteLease]].
  //  - AGE: streaming epochs stage without a per-epoch driver-side begin
  //    hook (the epoch id first surfaces executor-side), so an in-flight
  //    epoch's staging is distinguished from a dead stream's only by age —
  //    the Delta/Iceberg orphan-file VACUUM retention model. Live epoch
  //    staging exists for seconds; a retention of minutes is safe.
  //
  // Nothing here touches the visible store: staging is invisible by
  // construction, so reclamation is pure garbage collection — readers see
  // the pre-crash version throughout, and a fresh writer (new unique
  // staging key) never collides with the orphan.

  private val stagedSince = new ConcurrentHashMap[String, Long]()
  private val liveWriteLeases = ConcurrentHashMap.newKeySet[String]()

  private[sources] def beginWriteLease(stagingKey: String): Unit =
    liveWriteLeases.add(stagingKey): Unit
  /** Release (or, from a vacuum policy that decided the writer is dead,
    * forcibly expire) a staging key's lease. */
  private[graft] def expireWriteLease(stagingKey: String): Unit =
    liveWriteLeases.remove(stagingKey): Unit

  /** Staging keys that belong to `store` (its job/epoch staging areas). */
  private def stagingKeysOf(store: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    staged.keySet().asScala
      .filter(k => k == store || k.startsWith(s"$store##")).toSeq
  }

  /** Default staging retention: streaming epochs carry NO lease (no
    * driver-side per-epoch begin hook), so only AGE distinguishes a live
    * stream's seconds-old in-flight staging from a dead one's residue —
    * a default-argument vacuum with zero retention could reclaim a live
    * epoch's task-committed blocks and the epoch would promote
    * incomplete (r15 review). Live epoch staging exists for seconds;
    * ten minutes is conservatively beyond any epoch interval here.
    * Tests pass an explicit 0 to exercise immediate reclaim. */
  val DefaultStagingRetentionMs: Long = 10 * 60 * 1000L

  /** Staged-but-uncommitted keys for `store` with no live write lease and
    * staging age >= `minAgeMs` — the residue of writers that died between
    * task-level staging and the job/epoch commit. Returns
    * (stagingKey, blockCount) pairs; the accounting half of vacuum. */
  def stagedOrphans(store: String,
      minAgeMs: Long = DefaultStagingRetentionMs): Seq[(String, Int)] = {
    val now = System.nanoTime()
    stagingKeysOf(store)
      .filterNot(liveWriteLeases.contains)
      .filter { k =>
        // a staged key with NO timestamp is the residue of stage()
        // racing a concurrent discard (timestamp removed, block landed
        // after) — eternally age-0 under a default would make it
        // unreclaimable by any safe-retention vacuum, so missing
        // timestamp = eligible (r15 review)
        Option(stagedSince.get(k))
          .forall(since => (now - since) / 1000000L >= minAgeMs)
      }
      .map(k => k -> stagedCount(k))
      .filter(_._2 > 0)
  }

  /** Reclaim `store`'s orphaned staging areas (see [[stagedOrphans]]) —
    * the staging half of VACUUM. Returns the number of blocks freed. The
    * visible store is untouched: orphans were never promoted. */
  def vacuumStagedOrphans(store: String,
      minAgeMs: Long = DefaultStagingRetentionMs): Int = {
    val orphans = stagedOrphans(store, minAgeMs)
    orphans.foreach { case (k, _) => discardStaged(k) }
    orphans.iterator.map(_._2).sum
  }

  private[graft] def stage(name: String, partitionId: Int, b: Block): Unit = {
    stagedSince.putIfAbsent(name, System.nanoTime()): Unit
    staged.computeIfAbsent(name, _ => new ConcurrentHashMap[Int, Block]())
      .put(partitionId, b): Unit
  }

  /** Promote staged blocks (in partitionId order — deterministic store
    * layout regardless of task finish order) and drop the staging area.
    * `truncate` replaces the visible store (overwrite mode); otherwise
    * the promoted blocks append. */
  private[sources] def promote(name: String, partitionIds: Seq[Int],
      truncate: Boolean): Unit =
    promoteInto(name, name, partitionIds, truncate)

  /** [[promote]] generalized to a staging key ≠ target store — the
    * STREAMING write path stages each epoch under its own key (two epochs'
    * partition 0 must not collide) and promotes into the one target. */
  private[sources] def promoteInto(stagingKey: String, target: String,
      partitionIds: Seq[Int], truncate: Boolean): Unit = fenceLock.synchronized {
    // appends keep positional stream offsets sound; a truncating replace
    // does not — fence it while any streaming reader tails the store
    // (atomic with registration via fenceLock: no stream can register
    // between this check and the array swap below)
    require(!truncate || liveStreamReaders(target) == 0,
      s"cannot overwrite store '$target': ${liveStreamReaders(target)} live " +
        "streaming reader(s) hold positional offsets into it — stop the " +
        "stream(s) or append instead")
    // V2-written blocks carry no shard assignment (shard = -1); the
    // sharded scan plans only blocks with shard ∈ [0, n), so a write into
    // an SPJ-sharded store would land rows every scan silently skips —
    // refuse loudly (sharded stores are built only by loadSharded)
    require(shardingOf(target).isEmpty,
      s"cannot write into SPJ-sharded store '$target': written blocks " +
        "carry no shard assignment and would be invisible to its " +
        "key-grouped scans")
    // assemble BEFORE the opening bump: any throw between the bumps would
    // strand the generation at odd parity and spin every future planner
    val s = staged.remove(stagingKey)
    stagedSince.remove(stagingKey): Unit
    expireWriteLease(stagingKey)
    val blocks: Array[Block] =
      if (s == null) Array.empty
      else partitionIds.sorted.flatMap(pid => Option(s.get(pid))).toArray
    if (truncate) bumpLayoutGen(target)
    try {
      val after = stores.compute(target, (_, v) =>
        if (truncate || v == null) blocks else v ++ blocks)
      recordVersion(target, after)
    } finally if (truncate) completeLayoutRewrite(target)
    enforceBudget()
  }

  /** Copy-on-write GROUP REPLACEMENT — the commit of a row-level MERGE /
    * UPDATE / rewrite-DELETE (x46): atomically remove `victims` (the exact
    * blocks the rewrite's copy-on-write scan planned, identified by
    * REFERENCE — blocks are immutable, so a reference names one block
    * forever) and promote the staged blocks of `stagingKey` in their
    * place. Optimistic concurrency in the Iceberg/Delta validate-and-swap
    * style: refuses if the layout generation moved since the scan planned
    * (a concurrent DELETE/OPTIMIZE/merge rewrote the store — retrying
    * re-reads current groups), while APPENDS between plan and commit don't
    * bump the generation and survive untouched (snapshot semantics: rows
    * appended after the merge's scan were not part of its snapshot and are
    * not merged — exactly a lakehouse table's serializable-snapshot
    * contract). `expectedGen` = -1 marks a rewrite whose scan planned zero
    * groups (a pure-insert MERGE): victims must be empty and the commit is
    * an ordinary append. Like every rewrite path, refused while a
    * streaming reader holds positional offsets, parity-bumped around the
    * swap, and recorded as a time-travel version. */
  private[sources] def replaceBlocks(stagingKey: String, target: String,
      partitionIds: Seq[Int], victims: Array[Block],
      expectedGen: Long): Unit = fenceLock.synchronized {
    require(liveStreamReaders(target) == 0,
      s"cannot rewrite store '$target': ${liveStreamReaders(target)} live " +
        "streaming reader(s) hold positional offsets into it — stop the " +
        "stream(s) first")
    require(shardingOf(target).isEmpty,
      s"cannot rewrite SPJ-sharded store '$target': rewritten blocks " +
        "carry no shard assignment and would be invisible to its " +
        "key-grouped scans")
    require(expectedGen >= 0 || victims.isEmpty,
      "row-level rewrite commit carries victims but no planned generation")
    // assemble BEFORE the opening bump: any throw between the bumps would
    // strand the generation at odd parity (the promoteInto rule)
    val s = staged.remove(stagingKey)
    stagedSince.remove(stagingKey): Unit
    expireWriteLease(stagingKey)
    val fresh: Array[Block] =
      if (s == null) Array.empty
      else partitionIds.sorted.flatMap(pid => Option(s.get(pid))).toArray
    require(expectedGen < 0 || stableLayoutGeneration(target) == expectedGen,
      s"concurrent layout rewrite on '$target' since the row-level scan " +
        s"planned (generation $expectedGen -> " +
        s"${stableLayoutGeneration(target)}) — retry the statement")
    bumpLayoutGen(target)
    try {
      val victimSet = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Block, java.lang.Boolean]())
      victims.foreach(victimSet.add)
      val after = stores.compute(target, (_, v) => {
        val cur = if (v == null) Array.empty[Block] else v
        val present = cur.count(victimSet.contains)
        // the generation check above already rules a rewrite out; this
        // names the defect loudly if a new rewrite path ever forgets to
        // bump (the CLAUDE.md parity-seqlock rule)
        require(present == victimSet.size,
          s"${victimSet.size - present} scanned block(s) vanished from " +
            s"'$target' before the row-level commit without a generation " +
            "bump — a rewrite path is missing bumpLayoutGen")
        cur.filterNot(victimSet.contains) ++ fresh
      })
      recordVersion(target, after)
    } finally completeLayoutRewrite(target)
    enforceBudget()
  }

  // ---- time travel (versionAsOf) -----------------------------------------
  //
  // Every TRANSACTIONAL commit — batch promote, streaming epoch, DELETE —
  // records the resulting visible block array as the store's next version
  // (version 1 = state after the first commit). Blocks are immutable and
  // SHARED between versions, so history costs one array of references per
  // commit, never a payload copy — the Delta/Iceberg snapshot economics.
  // A read with `.option("versionAsOf", v)` resolves to the recorded
  // array through a read-only snapshot alias; the legacy non-transactional
  // loaders (ensureLoaded's per-task put()) record nothing, and a
  // versioned read of such a store fails loudly instead of inventing
  // history.

  private val history = new ConcurrentHashMap[String, Vector[Array[Block]]]()

  private def recordVersion(name: String, after: Array[Block]): Unit =
    history.compute(name, (_, v) =>
      (if (v == null) Vector.empty else v) :+ after): Unit

  /** Latest recorded version number (0 = no transactional commit yet). */
  def currentVersion(name: String): Int =
    history.getOrDefault(name, Vector.empty).length

  /** VACUUM: retire history older than the last `keepLast` versions —
    * the maintenance half of time travel (unbounded history pins every
    * version's block references; a store that churns forever must be
    * able to let go — Delta's VACUUM contract). Version NUMBERS keep
    * their absolute meaning: a vacuumed version stays addressable as a
    * number but reads fail loudly ("vacuumed"), never serve stale or
    * wrong data. Returns the number of versions retired. Snapshot
    * aliases already materialized for retired versions are dropped. */
  def vacuum(name: String, keepLast: Int): Int = {
    require(keepLast >= 1, s"vacuum must keep at least 1 version, got $keepLast")
    var retired = 0
    history.computeIfPresent(name, (_, h) => {
      val cut = math.max(0, h.length - keepLast)
      // index-stable: retired slots become null (their block REFERENCES
      // are released — the point of vacuum) while version numbers keep
      // their absolute meaning
      h.zipWithIndex.map { case (blocks, i) =>
        if (i < cut) {
          if (blocks != null) {
            retired += 1
            val alias = s"$name@@v${i + 1}"
            // parity-bump the alias key around its removal so an
            // expired-pin versioned reader fails loudly instead of
            // resolving the empty alias (see dropStore); exception-paired
            // like every other rewrite path — a throw between the bumps
            // would strand the alias at odd parity and make
            // stableLayoutGeneration spin forever (r15 advice)
            bumpLayoutGen(alias)
            try snapshotAliases.remove(alias): Unit
            finally completeLayoutRewrite(alias)
          }
          null
        } else blocks
      }
    })
    retired
  }

  /** Resolve a versioned read: materialize (idempotently) a read-only
    * snapshot alias whose block array is the recorded version, and return
    * its store key. Version numbers are 1-based commit counts. */
  private[sources] def snapshotAsOf(name: String, version: Int): String = {
    val h = history.getOrDefault(name, Vector.empty)
    require(version >= 1 && version <= h.length,
      s"store '$name' has no version $version (recorded: 1..${h.length}; " +
        "stores loaded outside the transactional write path record none)")
    require(h(version - 1) != null,
      s"store '$name' version $version was vacuumed and is no longer readable")
    val key = s"$name@@v$version"
    snapshotAliases.putIfAbsent(key, h(version - 1)): Unit
    key
  }

  // ---- streaming write (epoch-atomic append) -----------------------------
  //
  // Micro-batch sinks re-run `commit(epochId, ...)` after a recovery that
  // lost the engine's commit-log write but not the sink's effect; the
  // watermark below makes the promote IDEMPOTENT per epoch, so a replayed
  // epoch discards its staged blocks instead of double-appending — the
  // exactly-once half the sink owes (the source half is the stream's
  // checkpointed offsets).

  private val streamEpochs = new ConcurrentHashMap[String, Long]()

  private[graft] def epochKey(store: String, epoch: Long): String =
    s"$store##epoch-$epoch"

  private[graft] def commitEpoch(store: String, epoch: Long,
      partitionIds: Seq[Int]): Unit = {
    val last = streamEpochs.getOrDefault(store, -1L)
    if (epoch <= last) discardStaged(epochKey(store, epoch))
    else {
      promoteInto(epochKey(store, epoch), store, partitionIds,
        truncate = false)
      streamEpochs.put(store, epoch): Unit
    }
  }

  /** Drop a store and its streaming epoch watermark (a re-run of a
    * streaming-sink query starts from a fresh checkpoint at epoch 0, so
    * the stale watermark would silently swallow its first commits). */
  def dropStore(name: String): Unit = fenceLock.synchronized {
    // a drop IS a layout rewrite (never reset the generation — a
    // drop-and-recreate would otherwise hand a stopped stream's
    // checkpoint a matching generation over entirely different data),
    // and it follows the same parity discipline: bump BEFORE the
    // removal, close after — the previous swap-then-bump order let an
    // expired-pin reader racing the drop pass the generation check
    // against the already-emptied array (r14 review finding)
    bumpLayoutGen(name)
    try {
      stores.remove(name): Unit
      streamEpochs.remove(name): Unit
      // drop the version history, materialized snapshot aliases, the
      // SPJ sharding metadata, and any stale live-stream counter (a
      // re-run starts clean; a leaked shardedMeta entry would make a
      // recreated unsharded store's blocks invisible to every scan —
      // the sharded planner only collects shard ∈ [0, n) blocks)
      history.remove(name): Unit
      liveStreams.remove(name): Unit
      shardedMeta.remove(name): Unit
      // a dropped store's ORPHANED staging is garbage by definition —
      // reclaim it here rather than wait for an explicit vacuum. Keys
      // with a LIVE lease survive: an in-flight write racing the drop
      // keeps its existing semantics (its commit recreates the store).
      stagingKeysOf(name).filterNot(liveWriteLeases.contains)
        .foreach(discardStaged)
      // release this store's planning pins — a dropped store's payloads
      // must not stay reachable through stale plans (reads fail loudly);
      // versioned scans pin under the alias key, so match those too
      import scala.jdk.CollectionConverters._
      pinnedSnaps.entrySet().asScala
        .filter { e =>
          val n = e.getValue._1
          n == name || n.startsWith(s"$name@@v")
        }.map(_.getKey).toSeq
        .foreach(pinnedSnaps.remove(_): Unit)
      snapshotAliases.keySet.asScala.filter(_.startsWith(s"$name@@v"))
        .foreach { alias =>
          // an alias removal IS a layout rewrite of that alias key: its
          // generation otherwise never moves, so an expired-pin reader
          // would pass the fallback's equality check against the now
          // EMPTY alias array instead of failing loudly. try/finally for
          // parity-pair consistency with the store-level paths (a throw
          // between the bumps strands the alias at odd parity forever)
          bumpLayoutGen(alias)
          try snapshotAliases.remove(alias): Unit
          finally completeLayoutRewrite(alias)
        }
    } finally completeLayoutRewrite(name)
  }

  private[sources] def discardStaged(name: String): Unit = {
    staged.remove(name): Unit
    stagedSince.remove(name): Unit
    expireWriteLease(name)
  }

  /** Staged (not yet visible) block count — the spec asserts this drains
    * to zero after a successful commit. */
  def stagedCount(name: String): Int = {
    val s = staged.get(name)
    if (s == null) 0 else s.size()
  }

  // ---- filter DELETE (copy-on-write block rewrite) -----------------------
  //
  // The DSv2 `DELETE FROM` path ([[BlockStoreTable]] SupportsDelete): the
  // predicate splits into a STATS-level block pre-filter (min/max for
  // doc_id, dictionaries for lang/source — the same metadata the scan
  // prunes on) and a row predicate. Blocks the stats prove untouched keep
  // their payload UNREAD (disk-tier blocks stay on disk); intersecting
  // blocks are rewritten copy-on-write — filtered payload, recomputed
  // stats, dropped entirely when emptied. This is the Delta/Iceberg
  // copy-on-write DELETE economics: at 100 TB a `WHERE lang = 'de'` on a
  // lang-clustered store rewrites only the 'de' blocks.

  /** Blocks skipped by the last deleteWhere calls because their stats
    * proved no row could match (payload never read). */
  val deletePruned = new AtomicLong(0)
  /** Blocks whose payload was read (and possibly rewritten/dropped). */
  val deleteScanned = new AtomicLong(0)

  /** Delete every row satisfying `rowPred`, consulting `mayMatch` on
    * block stats first. Returns the number of rows deleted. Atomic per
    * store (readers see the old or the new block array, never a mix). */
  private[graft] def deleteWhere(name: String, mayMatch: Block => Boolean,
      rowPred: DocRow => Boolean): Long = {
    // a copy-on-write rewrite shifts block positions; positional stream
    // offsets would silently re-number a checkpointed replay — refuse
    // loudly (atomic with registration via fenceLock)
    fenceLock.synchronized {
    require(liveStreamReaders(name) == 0,
      s"cannot DELETE from store '$name': ${liveStreamReaders(name)} live " +
        "streaming reader(s) hold positional offsets into it — stop the " +
        "stream(s) first")
    bumpLayoutGen(name)
    var deleted = 0L
    try {
      val after = stores.computeIfPresent(name, (_, blocks) => {
        blocks.flatMap { b =>
          if (!mayMatch(b)) { deletePruned.incrementAndGet(); Some(b) }
          else {
            deleteScanned.incrementAndGet()
            val kept = b.rows.filterNot(rowPred)
            if (kept.length == b.numRows) Some(b)
            else {
              deleted += b.numRows - kept.length
              if (kept.isEmpty) None
              else Some(new Block(kept.iterator.map(_._1).min,
                kept.iterator.map(_._1).max, kept, b.shard))
            }
          }
        }
      })
      if (after != null) recordVersion(name, after)
    } finally completeLayoutRewrite(name)
    enforceBudget()
    deleted
    }
  }

  // ---- OPTIMIZE (bin-packing compaction) ---------------------------------
  //
  // Fragmented ingest (many small epoch appends) and copy-on-write DELETEs
  // leave stores with many small blocks — per-block metadata and
  // per-partition task overhead grow while stats pruning loses resolution.
  // OPTIMIZE coalesces small neighbors (in minId order, preserving the
  // range-clustered layout so min/max pruning keeps working) into
  // ~targetRows blocks; already-large blocks pass through UNTOUCHED (their
  // payloads are not rewritten — Delta OPTIMIZE's bin-packing economics).
  // A transactional commit: the result is recorded as a new version, so
  // time travel to the fragmented layout still works.

  /** Compact `name`'s visible blocks toward `targetRows` rows per block.
    * Returns (blocks before, blocks after). Refused for sharded stores
    * (coalescing across shards would break SPJ co-location) and, like
    * DELETE, while a streaming reader holds positional offsets. */
  def optimize(name: String, targetRows: Long): (Int, Int) = {
    require(targetRows > 0, s"optimize needs a positive target, got $targetRows")
    require(shardingOf(name).isEmpty,
      s"cannot OPTIMIZE sharded store '$name': coalescing across shards " +
        "would break the co-registered SPJ layout")
    fenceLock.synchronized {
    require(liveStreamReaders(name) == 0,
      s"cannot OPTIMIZE store '$name': ${liveStreamReaders(name)} live " +
        "streaming reader(s) hold positional offsets into it")
    bumpLayoutGen(name)
    var result = (0, 0)
    try {
      val after = stores.computeIfPresent(name, (_, blocks) => {
        val sorted = blocks.sortBy(_.minId)
        val out = scala.collection.mutable.ArrayBuffer.empty[Block]
        val buf = scala.collection.mutable.ArrayBuffer.empty[DocRow]
        def flush(): Unit = if (buf.nonEmpty) {
          out += Block(buf.iterator.map(_._1).min, buf.iterator.map(_._1).max,
            buf.toArray)
          buf.clear()
        }
        sorted.foreach { b =>
          if (b.numRows >= targetRows) { flush(); out += b }
          else {
            buf ++= b.rows
            if (buf.length >= targetRows) flush()
          }
        }
        flush()
        result = (blocks.length, out.length)
        out.toArray
      })
      if (after != null) recordVersion(name, after)
    } finally completeLayoutRewrite(name)
    enforceBudget()
    result
    }
  }

  private[sources] def get(name: String): Array[Block] = {
    val b = stores.get(name)
    if (b != null) b
    else {
      val a = snapshotAliases.get(name)
      if (a == null) Array.empty else a
    }
  }

  def blockCount(name: String): Int = get(name).length

  /** Visible blocks of a store — the metadata surface (payload access via
    * `Block.rows` serves from whichever tier holds it). */
  def blocks(name: String): Seq[Block] = get(name).toSeq

  /** Max doc_id across the store's block stats (the metadata a reader
    * consults without touching any block payload). */
  def maxDocId(name: String): Long = get(name).map(_.maxId).max

  /** Per-block (minId, maxId) stats — what `getShuffleStatus` exposes. */
  def blockStats(name: String): Seq[(Long, Long)] =
    get(name).map(b => (b.minId, b.maxId)).toSeq

  // ---- co-registered SHARDED stores (the storage-partitioned-join pair) --
  //
  // The reference's registerShuffles co-places MULTIPLE shuffles under ONE
  // partitioner so a downstream two-input stage reads co-located inputs
  // (`MapOutputTracker.scala:219-255` in the reference). The Spark-native
  // form: every sharded store is laid out by the SAME deterministic
  // range-shard function (shard = doc_id / width, width fixed per corpus),
  // each shard's rows land in one block tagged with its shard id, and the
  // connector's scan reports that layout as a KeyGroupedPartitioning — so a
  // join of two such stores on doc_id plans with NO Exchange on either side
  // (see [[GraftBlockCatalog]] and the SPJ wiring in [[BlockStoreSource]]).
  // Fixed-WIDTH range sharding (not sampled range boundaries) is what makes
  // two independently-written stores co-located: the shard of a row depends
  // only on (width, doc_id), never on either store's distribution. Blocks
  // stay contiguous doc_id ranges, so min/max stats pruning keeps working.

  /** store name → (numShards, shardWidth); presence marks a store SPJ-ready. */
  private val shardedMeta = new ConcurrentHashMap[String, (Int, Long)]()

  def shardingOf(name: String): Option[(Int, Long)] =
    Option(shardedMeta.get(name))

  /** All visible store names (the catalog's listTables surface). */
  def storeNames: Seq[String] = {
    import scala.jdk.CollectionConverters._
    stores.keySet().asScala.toSeq.sorted
  }

  val SpjShards = 16

  /** Write `df` (documents schema) as a sharded store: one block per shard,
    * shard = doc_id / width, EVERY shard present (empty blocks included, so
    * two co-registered stores always expose identical partition-key sets to
    * the join planner). Executor-side puts, like [[ensureLoaded]]. */
  private def loadSharded(spark: SparkSession, name: String,
      df: org.apache.spark.sql.DataFrame, width: Long,
      maxRowsPerBlock: Int = Int.MaxValue): Unit = {
    val n = SpjShards
    // The catalog's bucket transform carries the width as an Int parameter
    // (Expressions.bucket), and shard placement assumes non-negative ids —
    // outside either range rows would silently mis-place (truncated width)
    // or crash the partitioner (negative shard). Fail loudly instead.
    require(width > 0 && width <= Int.MaxValue,
      s"loadSharded: shard width $width outside (0, Int.MaxValue] — " +
        "corpus id range exceeds the bucket transform's Int parameter")
    df.rdd
      .map { r =>
        val id = r.getLong(0)
        require(id >= 0, s"loadSharded: negative doc_id $id — shard " +
          "placement id/width assumes non-negative ids")
        ((id / width).toInt,
          (id, r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = n
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .foreachPartition { it: Iterator[(Int, DocRow)] =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val rows = it.map(_._2).toArray
        if (rows.isEmpty)
          // empty shards still land a (stat-less) block so co-registered
          // stores expose identical shard sets to the join planner
          put(name, Block(Long.MaxValue, Long.MinValue, rows, shard = pid))
        else rows.grouped(maxRowsPerBlock).foreach { chunk =>
          put(name, Block(chunk.iterator.map(_._1).min,
            chunk.iterator.map(_._1).max, chunk, shard = pid))
        }
      }
    shardedMeta.put(name, (n, width)): Unit
  }

  /** Two co-registered corpus snapshots for the SPJ query (x37): the full
    * corpus and a deterministic "previous snapshot" subset, both sharded by
    * the SAME width so their blocks are co-located by construction. Returns
    * the (current, previous) store names. */
  def ensureShardedSnapshots(spark: SparkSession, dir: String): (String, String) =
    synchronized {
      val a = graft.Landed.store("spj_cur@", dir)
      val b = graft.Landed.store("spj_prev@", dir)
      // the pair is one fixture: if EITHER half is missing, rebuild BOTH
      // from clean state — guarding on `a` alone let a partial drop
      // either re-load into a surviving `b` (loadSharded put()s APPEND:
      // every row doubled, the join silently returns duplicate matches)
      // or leave a dropped `b` empty forever (r14 review finding)
      if (!stores.containsKey(a) || !stores.containsKey(b)) {
        dropStore(a)
        dropStore(b)
        val docs = Catalog.table(spark, dir, "documents")
        val maxId = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
          .head.getLong(0)
        val width = maxId / SpjShards + 1 // id/width < SpjShards for all ids
        loadSharded(spark, a, docs, width)
        loadSharded(spark, b, docs.filter(col("doc_id") % 3 =!= 0), width)
      }
      (a, b)
    }

  /** A snapshot sharded at TWICE the co-registered width — the
    * MISMATCHED partner the SPJ robustness spec joins against `spj_cur`.
    * The reference rejects mismatched co-registrations outright
    * (`MapOutputTracker.scala:219-255` same-reducer-count check); the
    * Spark-native equivalent is SOFTER and safer: each scan truthfully
    * reports its own `bucket(width, doc_id)`, the planner sees two
    * incompatible shuffle specs, and `EnsureRequirements` inserts the
    * hash Exchanges a normal join needs — a fallback, never a wrong
    * answer. (A same-width pair elides both, the x37 path.) */
  private[graft] def ensureWidthMismatched(spark: SparkSession,
      dir: String): String = synchronized {
    val name = graft.Landed.store("spj_wide@", dir)
    if (!stores.containsKey(name)) {
      val (cur, _) = ensureShardedSnapshots(spark, dir)
      val width = shardedMeta.get(cur)._2
      loadSharded(spark, name, Catalog.table(spark, dir, "documents"),
        width * 2)
    }
    name
  }

  /** A snapshot at the CO-REGISTERED width but with every shard's rows
    * split across several small blocks — the many-blocks-per-shard layout
    * a skewed ingest lands, and the fixture for Spark's
    * partially-clustered distribution (the scan emits one partition per
    * block, several per shard key; see the planInputPartitions note in
    * [[BlockStoreSource]]). */
  private[graft] def ensureChunkedSnapshot(spark: SparkSession,
      dir: String): String = synchronized {
    val name = graft.Landed.store("spj_chunk@", dir)
    if (!stores.containsKey(name)) {
      val (cur, _) = ensureShardedSnapshots(spark, dir)
      val width = shardedMeta.get(cur)._2
      val docs = Catalog.table(spark, dir, "documents")
      val perShard = math.max(1L, docs.count() / SpjShards)
      loadSharded(spark, name, docs, width,
        maxRowsPerBlock = math.max(1, (perShard / 3).toInt))
    }
    name
  }

  /** Load `documents` clustered by LANG (one-or-few langs per block) —
    * the layout a per-language corpus ingest lands naturally, and the one
    * where the blocks' dictionary stats actually prune: on the doc_id
    * range layout every block mixes all languages and a lang predicate
    * can skip nothing. Used by the dictionary-pruning spec. */
  def ensureLangClustered(spark: SparkSession, dir: String): String = synchronized {
    val name = graft.Landed.store("bylang:", dir)
    if (!stores.containsKey(name)) {
      Catalog.table(spark, dir, "documents")
        .repartition(8, col("lang"))
        .foreachPartition { it: Iterator[Row] =>
          val rows = it.map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getString(3), r.getLong(4))).toArray
          if (rows.nonEmpty)
            put(name, Block(rows.iterator.map(_._1).min,
              rows.iterator.map(_._1).max, rows))
        }
    }
    name
  }

  /** Load `documents` into the store once per (JVM, sf dir) and return the
    * store name. Rows are RANGE-partitioned on doc_id before the put so
    * each block carries tight min/max bounds — the same clustering-for-
    * stats discipline as x31's layout (hash-partitioned blocks would all
    * span the full key range and prune nothing). */
  def ensureLoaded(spark: SparkSession, dir: String): String = synchronized {
    val name = graft.Landed.store("documents:", dir)
    if (!stores.containsKey(name)) {
      Catalog.table(spark, dir, "documents")
        .repartitionByRange(16, col("doc_id"))
        .foreachPartition { it: Iterator[Row] =>
          val rows = it.map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getString(3), r.getLong(4))).toArray
          if (rows.nonEmpty)
            put(name, Block(rows.iterator.map(_._1).min,
              rows.iterator.map(_._1).max, rows))
        }
    }
    name
  }
}
