package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query-name filter, so a
    // new operator can be oracle-checked without a ~110-query full pass
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    // a typo'd subset name would otherwise run NOTHING, exit 0, and leave
    // the previous run's parquet in place for check.py to compare green —
    // the r14 silent-green hole, re-opened on subset runs (r16 review)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s) in subset filter: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session("graft-verify", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // fail loudly BEFORE producing any output if the testdata encoding has
    // drifted from Catalog's declared physical contract (r9 lesson)
    Catalog.assertDataContract(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // _FULL_RUN marker: check.py treats missing oracle-keyed outputs as
    // failures ONLY on a full-registry run. The previous written-count
    // heuristic (written >= |oracles|/2) misclassified a run where more
    // than half the queries threw as a subset run — the exact catastrophic
    // case the union check exists for (r14 advice). The marker states the
    // run's INTENT, so it is written BEFORE the loop (an end-of-run marker
    // re-opened the hole for a killed run: no marker → subset semantics →
    // stale outputs from the previous run compare green — r15 review),
    // and a full run CLEARS the outDir first so a kill mid-way leaves
    // missing outputs that check.py counts as failures, never stale ones.
    def rmAll(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete(): Unit
    }
    val fullRunMarker = Paths.get(s"$outDir/_FULL_RUN")
    Files.deleteIfExists(fullRunMarker)
    if (only.isEmpty) {
      Option(new java.io.File(outDir).listFiles)
        .foreach(_.foreach(rmAll))
      Files.writeString(fullRunMarker,
        s"${SparkEntry.queries.size}\n"): Unit
    }
    println(s"[verify] registry: ${SparkEntry.queries.size} queries" +
      (if (only.nonEmpty) s" (subset run: ${only.size})" else ""))
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // delete any PREVIOUS run's output first: the gate command reuses
      // one outDir, and a query that now throws would otherwise leave the
      // stale parquet in place — check.py would compare it against the
      // oracle and report PASS for a currently-broken query (r14 review:
      // the gate's one silent-green hole)
      rmAll(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release anything a query persisted for its own multi-arm reuse
      // (dd3/dd6/t9) — same hygiene as the Bench loop, so ~110 sequential
      // queries don't accumulate resident blocks
      try spark.catalog.clearCache() catch { case _: Throwable => }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // non-zero exit on any failed query: the gate must be loud even if
    // the caller only checks the exit code
    if (failed > 0) {
      System.err.println(s"[verify] $failed quer${if (failed == 1) "y" else "ies"} FAILED")
      sys.exit(1)
    }
  }
}
