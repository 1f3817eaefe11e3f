package graft

import graft.sources.BlockStore

/** A long session that moves from one input dir to the next must not keep
  * the previous input's landed block stores or streaming checkpoints: the
  * same queries over a second copy of the input leave the session holding
  * exactly as many blocks as after the first copy. */
class SessionHygieneSpec extends SparkSpec {

  private val storeQueries = Seq("x32_blockstore_scan", "x34_blockstore_agg",
    "x33_blockstore_write", "x39_blockstore_delete", "s24_stream_block_sink")

  private def copyInput(tag: String): String = {
    val dst = java.nio.file.Files.createTempDirectory(s"hygiene-$tag")
    java.nio.file.Files.list(java.nio.file.Paths.get(sf)).forEach { f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName))
    }
    dst.toString
  }

  private def run(names: Seq[String], dir: String): Unit = names.foreach { q =>
    SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
  }

  private def totalBlocks: Int = BlockStore.storeNames.map(BlockStore.blockCount).sum

  test("moving to another input drops the previous input's stores") {
    val (a, b) = (copyInput("a"), copyInput("b"))
    try {
      run(storeQueries, a)
      val afterA = totalBlocks
      assert(BlockStore.storeNames.exists(_.contains(a)), "copy A landed no store")
      run(storeQueries, b)
      val stale = BlockStore.storeNames.filter(_.contains(a))
      assert(stale.isEmpty, s"stores of the previous input survived: $stale")
      assert(totalBlocks == afterA,
        s"blocks grew from $afterA to $totalBlocks across same-shaped inputs")
    } finally Seq(a, b).foreach(d => Catalog.deleteTempDir(java.nio.file.Paths.get(d)))
  }

  test("streaming runs delete their checkpoint dirs after the drain") {
    // s21 drains through runToTable, s24 through its block-store sink,
    // s23/s25 through foreachBatch into driver rows / index stores
    val streams = Seq("s21_blockstore_stream", "s23_stream_ann_serve",
      "s24_stream_block_sink", "s25_stream_ann_ingest")
    run(streams, sf)
    def entries: Int = {
      val ls = java.nio.file.Files.list(Catalog.tempBase)
      try ls.count().toInt finally ls.close()
    }
    val before = entries
    (1 to 3).foreach(_ => run(streams, sf))
    assert(entries == before, s"temp entries grew from $before to $entries")
  }
}
