package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Fixed schemas + loaders for the driver-generated tables (TESTDATA.md).
  *
  * The reference fixes its "schema" at shuffle registration time and never
  * infers it (`MapOutputTracker.scala:193-217`, SURVEY.md §1.2); we mirror that
  * stance relationally: every table has an explicit `StructType`, no schema
  * inference on the production read path. At 100 TB, inference means an extra
  * file-footer sweep per query — declared schemas make the scan metadata-only.
  */
object Catalog {

  val region = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  // events.ts is parquet TIMESTAMP(MICROS) with isAdjustedToUTC=0 (NTZ
  // semantics): read natively as TimestampType. Correct cross-engine values
  // depend on the session timezone staying pinned to UTC (Engine) so the
  // NTZ micros column matches DuckDB's naive-timestamp oracle bit-for-bit.
  val events = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  /** Load a table with its declared schema from an sf directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** `ts` arrives as native TimestampType since the TIMESTAMP(MICROS)
    * testdata encoding — normalization is the identity. Kept as the single
    * event-time choke point: every events consumer routes through here, so a
    * future encoding change is again a one-line fix. */
  def normalizeEvents(df: DataFrame): DataFrame = df

  /** events with a proper event-time column. */
  def eventsNorm(spark: SparkSession, dir: String): DataFrame =
    normalizeEvents(table(spark, dir, "events"))

  /** Data-contract guard: diff every table's parquet FOOTER schema (inferred
    * by Spark, no user schema applied) against the Catalog declaration and
    * fail loudly listing every drifted table. Motivation: Spark silently
    * reads a TIMESTAMP(MICROS) column through a LongType user schema and
    * produces garbage with zero errors — at round 9 a driver-side re-encoding
    * of events.ts did exactly that and turned 15 oracle rows red with no
    * error message anywhere. This turns the same drift into one precise
    * failure at startup. Footer reads are metadata-only (no row groups), so
    * the guard costs one footer fetch per table at any corpus size.
    *
    * Normalization before comparing: nullability is ignored (inference always
    * reports nullable; declarations don't care), and TimestampNTZType is
    * folded into TimestampType — with the session timezone pinned to UTC
    * (Engine) the two read bit-identically from TIMESTAMP(MICROS) NTZ files.
    */
  def assertDataContract(spark: SparkSession, dir: String): Unit = {
    def norm(dt: DataType): DataType = dt match {
      case TimestampNTZType    => TimestampType
      case ArrayType(e, _)     => ArrayType(norm(e), containsNull = true)
      case MapType(k, v, _)    => MapType(norm(k), norm(v), valueContainsNull = true)
      case StructType(fields)  => StructType(fields.map(f =>
        StructField(f.name, norm(f.dataType), nullable = true)))
      case other               => other
    }
    val drifted = schemas.toSeq.sortBy(_._1).flatMap { case (name, declared) =>
      val path = s"$dir/$name.parquet"
      try {
        val physical = spark.read.parquet(path).schema
        if (norm(declared) == norm(physical)) None
        else Some(s"  $name: declared ${norm(declared).simpleString} " +
          s"!= physical ${norm(physical).simpleString}")
      } catch { case e: Exception =>
        Some(s"  $name: unreadable at $path (${e.getMessage})")
      }
    }
    if (drifted.nonEmpty) throw new IllegalStateException(
      s"DATA CONTRACT DRIFT in $dir — parquet schema diverges from " +
        s"Catalog declarations (fix Catalog or regenerate the data):\n" +
        drifted.mkString("\n"))
  }

  /** Load a table and spread it across all cores. The local testdata ships
    * one parquet file per table — a single scan partition — which serializes
    * compute-heavy per-row work (tokenization, hashing, vector folds) onto
    * one core. On a real deployment the table is thousands of files and the
    * scan parallelizes naturally; this explicit round-robin repartition is
    * the local stand-in and costs one tiny shuffle of the small tables it is
    * used on (documents/embeddings). */
  def tableSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    table(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** JVM-wide parent of every [[tempDirWithCleanup]] directory, with the
    * one shutdown hook that deletes it recursively. Optional base override
    * (SPARK_GRAFT_TMPDIR) — the r19 streaming-floor rig points it at tmpfs
    * to separate checkpoint-I/O cost from micro-batch machinery cost.
    * Default stays java.io.tmpdir. */
  private[graft] lazy val tempBase: java.nio.file.Path = {
    val d = sys.env.get("SPARK_GRAFT_TMPDIR") match {
      case Some(base) =>
        val b = java.nio.file.Paths.get(base)
        java.nio.file.Files.createDirectories(b)
        java.nio.file.Files.createTempDirectory(b, "graft-tmp")
      case None => java.nio.file.Files.createTempDirectory("graft-tmp")
    }
    sys.addShutdownHook(rmTree(d.toFile))
    d
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(): Unit
  }

  /** Delete a [[tempDirWithCleanup]] directory now instead of at exit. */
  def deleteTempDir(dir: java.nio.file.Path): Unit = rmTree(dir.toFile)

  /** A fresh temp directory, deleted at JVM exit. Every call hands out a
    * new subdirectory of one JVM-wide base, so repeated runs of a query
    * add no shutdown hook. */
  def tempDirWithCleanup(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tempBase, prefix)
}
