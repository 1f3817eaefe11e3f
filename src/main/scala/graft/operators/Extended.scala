package graft.operators

import graft.{Catalog, Sql}
import graft.Sql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second-largest distinct value: a typed [[Aggregator]] (SURVEY.md §2D
  * UDF/UDAF row). Buffer = (max, second-distinct-max) with -Inf sentinels;
  * finish maps sentinels to SQL NULL (boxed output) — a single-distinct-
  * value group has no second max, matching the oracle's NULL subquery. */
object SecondMax extends Aggregator[Double, (Double, Double),
    (java.lang.Double, java.lang.Double)] {
  private val NegInf = Double.NegativeInfinity
  def zero: (Double, Double) = (NegInf, NegInf)
  def reduce(b: (Double, Double), x: Double): (Double, Double) = merge(b, (x, NegInf))
  def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) = {
    val top = math.max(a._1, b._1)
    val cands = Seq(a._1, a._2, b._1, b._2).filter(_ < top)
    (top, if (cands.isEmpty) NegInf else cands.max)
  }
  def finish(r: (Double, Double)): (java.lang.Double, java.lang.Double) = {
    def orNull(d: Double): java.lang.Double = if (d == NegInf) null else d
    (orNull(r._1), orNull(r._2))
  }
  def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaDouble)
  def outputEncoder = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.DOUBLE, org.apache.spark.sql.Encoders.DOUBLE)
}

/** Second wave of SURVEY.md §2D coverage: as-of join, pivot, grouping sets,
  * JSON scalar functions, non-parquet sources/sinks (CSV/JSON/ORC — no
  * spark-avro module ships in this environment, Avro is the one gap), HLL
  * sketch, typed UDAF. */
object Extended {

  /** Materialize a bounded result EAGERLY as a LocalRelation: the frame
    * must survive the enclosing finally's DROP TABLE / unpersist, so the
    * plan cannot stay lazy over the resource being released. Every
    * caller is a declared-bound eager query (PlanAuditSpec.eagerBounds
    * audits the registry for exactly this shape). */
  private def eager(spark: SparkSession,
      out: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)

  /** As-of join (point-in-time lookup): each event annotated with the most
    * recent prior-or-same purchase value of the same user. Composed from a
    * running `last(..., ignoreNulls)` window — no custom operator needed
    * (SURVEY.md §7.4 preference (a)); at scale this is one shuffle on
    * user_id, state bounded per partition. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Catalog.eventsNorm(spark, dir)
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("event_type"), col("last_purchase_value"))
      .orderBy("event_id")
  }

  /** Pivot: per-user event-type counts (explicit value list keeps the plan
    * a single pass; missing cells coalesced to 0 to match FILTER counts). */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  def pivotCounts(spark: SparkSession, dir: String): DataFrame = {
    val p = Catalog.table(spark, dir, "events")
      .groupBy(col("user_id")).pivot("event_type", EventTypes).agg(count(lit(1)))
    p.select(col("user_id") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  /** Explicit GROUPING SETS via SQL. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Catalog.table(spark, dir, "lineitem").createOrReplaceTempView("li_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** JSON scalar extraction from the events props payload. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Catalog.table(spark, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
      .orderBy("event_id")

  // One unique temp base per JVM (collision-free across concurrent
  // processes/users, unlike a fixed /tmp name), reused across calls within
  // the JVM so repeated runs don't accumulate copies.
  private lazy val roundtripBase: String =
    Catalog.tempDirWithCleanup("graft-roundtrip").toString

  private def roundtrip(spark: SparkSession, dir: String, format: String): DataFrame = {
    val tmp = s"$roundtripBase/$format"
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val src = Catalog.table(spark, dir, "lineitem")
      .select(cols.map(col): _*).filter(col("l_orderkey") % 10 === 0)
    src.write.mode("overwrite").format(format)
      .option("header", "true").save(s"$tmp/data")
    val schema = StructType(cols.map(c => Catalog.lineitem(Catalog.lineitem.fieldIndex(c))))
    spark.read.schema(schema).format(format).option("header", "true").load(s"$tmp/data")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_orderkey")
  }

  /** x29: AVRO container-file sink+source roundtrip WITHOUT the spark-avro
    * DataSource module — the module is absent from this environment (see
    * README's gap record), but Spark ships the core `avro` + `avro-mapred`
    * jars, and the Hadoop-format bridge (`newAPIHadoopFile` /
    * `saveAsNewAPIHadoopFile` with `AvroKeyInput/OutputFormat`) is the
    * PRE-spark-avro production path for exactly this situation. The writer
    * builds `GenericRecord`s inside the writing task (records never cross
    * a shuffle — they are not Spark-serializable and must not need to be);
    * the reader extracts primitive fields immediately in the scan-side map
    * (Hadoop RecordReaders reuse key objects, so copying out fields before
    * any buffering is REQUIRED, not a style choice). Same subset, same
    * aggregate, same oracle as the x5/x6/x7 roundtrips — proving the avro
    * container files carry the data losslessly.
    *
    * At 100 TB this is a real scan path: splittable container files, one
    * task per block, schema embedded per file; only the convenience column
    * mapping of spark-avro is missing, not the capability. */
  /** x29's actual output location — exposed so the container-format spec
    * inspects THIS run's files, never a stale tmp dir from a crashed JVM.
    * SEQUENTIAL-HARNESS ASSUMPTION: the fixed path is deleted and
    * rewritten per invocation; two CONCURRENT x29 runs in one JVM would
    * race (one deleting files the other reads). Verify/Bench/specs all
    * run queries sequentially; a concurrent caller must suffix the path
    * with a per-invocation token. */
  private[graft] def avroOutputDir: String = s"$roundtripBase/avro/data"

  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable
    import org.apache.hadoop.mapreduce.Job

    val tmp = avroOutputDir
    val schemaJson =
      """{"type":"record","name":"lineitem_slice","fields":[
        |  {"name":"l_orderkey","type":"long"},
        |  {"name":"l_linenumber","type":"int"},
        |  {"name":"l_quantity","type":"double"},
        |  {"name":"l_extendedprice","type":"double"}]}""".stripMargin
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true): Unit

    val src = Catalog.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .filter(col("l_orderkey") % 10 === 0)
    val writeJob = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(writeJob, new Schema.Parser().parse(schemaJson))
    src.rdd.mapPartitions { it =>
      val sch = new Schema.Parser().parse(schemaJson)
      it.map { r =>
        val rec = new GenericData.Record(sch)
        rec.put("l_orderkey", r.getLong(0))
        rec.put("l_linenumber", r.getInt(1))
        rec.put("l_quantity", r.getDouble(2))
        rec.put("l_extendedprice", r.getDouble(3))
        (new AvroKey[GenericRecord](rec), NullWritable.get())
      }
    }.saveAsNewAPIHadoopFile(tmp, classOf[AvroKey[GenericRecord]],
      classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
      writeJob.getConfiguration)

    val readJob = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(readJob, new Schema.Parser().parse(schemaJson))
    val rows = spark.sparkContext.newAPIHadoopFile(tmp,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        readJob.getConfiguration)
      .map { case (k, _) =>
        val rec = k.datum()
        org.apache.spark.sql.Row(rec.get("l_orderkey").asInstanceOf[Long],
          rec.get("l_linenumber").asInstanceOf[Int],
          rec.get("l_quantity").asInstanceOf[Double],
          rec.get("l_extendedprice").asInstanceOf[Double])
      }
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val schema = StructType(cols.map(c => Catalog.lineitem(Catalog.lineitem.fieldIndex(c))))
    spark.createDataFrame(rows, schema)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_orderkey")
  }

  /** x28: batch SCHEMA EVOLUTION across parquet file generations — the
    * data-lake reality at 100 TB: partitions are written over months by
    * jobs whose output schema GROWS (a new enrichment column), and a scan
    * must read old and new files together without rewriting history. Two
    * generations are written here (even doc_ids with the original 3
    * columns; odd doc_ids adding `source`), then read back in ONE scan
    * under `mergeSchema=true`: the union schema resolves by NAME, the
    * added column reads as NULL for pre-evolution files, and the
    * aggregation proves exactly the new-generation rows carry it — the
    * same nullable-extension contract the streaming state evolution spec
    * proves for RocksDB state, here for the batch lake. (Per-file footer
    * merging is a driver-side listing cost; production pins the evolved
    * schema in a catalog and drops the per-query merge.) */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"$roundtripBase/evolve"
    val docs = Catalog.table(spark, dir, "documents")
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/gen=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      .write.mode("overwrite").parquet(s"$tmp/gen=2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/gen=1", s"$tmp/gen=2")
      .groupBy(col("lang"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"),
        asLong(sum(when(col("source").isNotNull, 1L).otherwise(0L))).as("n_with_source"))
      .orderBy("lang")
  }

  /** x30's corrupted JSON-lines location — exposed for the
    * FAILFAST/DROPMALFORMED contrast spec (same sequential-harness
    * assumption as [[avroOutputDir]]). */
  private[graft] def corruptDir: String = s"$roundtripBase/corrupt"

  /** x30: CORRUPT-RECORD ingestion — the first thing a real 100 TB ingest
    * hits: some fraction of the feed is malformed, and the job must (a)
    * not die, (b) keep every clean row losslessly, and (c) QUARANTINE the
    * bad rows with enough structure to triage them. A deterministically
    * corrupted JSON-lines variant of `documents` is generated in setup
    * (every doc_id ≡ 3 (mod 7) gets an unparseable prefix), read back
    * PERMISSIVE with `_corrupt_record`, and the output carries BOTH
    * populations: per-lang counts + a text-hash digest over the parsed
    * rows (proving clean rows survive bit-exactly), and a quarantine row
    * whose digest is built from doc_ids regexp-extracted OUT OF the raw
    * corrupt strings — the triage step, proving the quarantined rows are
    * exactly the injected ones, not merely the right count. The oracle
    * recomputes both sides from the parquet table by the injection rule.
    *
    * SCALE SHAPE: the parse, the corrupt-null filter and the regexp
    * extraction are all scan-side map work; the aggregation is a
    * low-cardinality (|langs|+1) two-stage hash agg. FAILFAST-vs-
    * PERMISSIVE-vs-DROPMALFORMED is spec-contrasted on the same files. */
  // corrupted layout written once per (JVM, sf dir) — the scaladoc's
  // "generated in setup" promise: the PERMISSIVE read path under
  // measurement must not re-pay (and re-time) a full corpus
  // serialization on every Verify/Bench invocation (the x24/x18/x19
  // memoized-layout discipline). A different sf dir regenerates — the
  // same sequential-harness assumption corruptDir documents.
  @volatile private var corruptWrittenFor: String = null

  def corruptIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = corruptDir
    synchronized {
      if (corruptWrittenFor != dir) {
        val jsonLine =
          to_json(struct(col("doc_id"), col("lang"), col("n_chars"), col("text")))
        Catalog.table(spark, dir, "documents")
          .select(when(col("doc_id") % 7 === 3, concat(lit("{corrupt!"), jsonLine))
            .otherwise(jsonLine).as("value"))
          .write.mode("overwrite").text(tmp)
        corruptWrittenFor = dir
      }
    }
    val readSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    // persisted: (a) Spark disallows querying ONLY `_corrupt_record` off a
    // raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the quarantine
    // branch is exactly that shape, and the documented remedy is caching
    // the parsed frame; (b) one parse pass feeds both populations. The
    // (|langs|+1)-row result is collected and the cache released in the
    // finally (the sim8 lifecycle).
    val parsed = spark.read.schema(readSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .persist()
    try {
      val clean = parsed.filter(col("_corrupt_record").isNull)
        .groupBy(col("lang").as("k"))
        .agg(asLong(count(lit(1))).as("n_rows"),
          asLong(sum(col("n_chars"))).as("sum_chars"),
          asLong(sum(graft.functions.Text.sharedHash(col("text")) % 1000003L)).as("digest"))
        .select(lit("clean").as("kind"), col("k"), col("n_rows"),
          col("sum_chars"), col("digest"))
      val corrupt = parsed.filter(col("_corrupt_record").isNotNull)
        .select(regexp_extract(col("_corrupt_record"), "\"doc_id\":(\\d+)", 1)
          .cast(LongType).as("bad_id"))
        .agg(asLong(count(lit(1))).as("n_rows"),
          asLong(sum(col("bad_id") % 1000003L)).as("digest"))
        .select(lit("corrupt").as("kind"), lit("json").as("k"), col("n_rows"),
          lit(0L).as("sum_chars"), col("digest"))
      val out = clean.unionAll(corrupt).orderBy("kind", "k")
      eager(spark, out)
    } finally { parsed.unpersist(): Unit }
  }

  /** x31's z-ordered layout location — exposed for the data-skipping spec
    * (same sequential-harness assumption as [[avroOutputDir]]). */
  private[graft] def zorderDir: String = s"$roundtripBase/zorder"
  private[graft] val ZOrderFiles = 16

  /** x31: Z-ORDER clustered layout — MULTI-dimensional data skipping, the
    * layout trick single-column sorting cannot give. `lineitem` is
    * rewritten clustered by the Morton code of (l_orderkey, l_partkey)
    * ([[graft.expr.ZOrderInterleave]]: both keys min-max scaled to 16 bits,
    * bits interleaved, then `repartitionByRange` + `sortWithinPartitions`
    * on the code — each output file covers a compact Z-region, i.e. a
    * small min-max box in BOTH key dimensions at once). The registered
    * result is a 2-D box aggregate computed FROM the landed layout; the
    * oracle runs the same box over the original table — the layout is
    * result-invisible, and the skipping claim itself is spec-asserted
    * from per-file min/max stats against a plain orderkey-sorted layout
    * (strictly fewer files overlap a partkey predicate; the sorted
    * layout prunes NOTHING on its non-sort dimension).
    *
    * SCALE SHAPE: at 100 TB this is how a fact table serves range
    * predicates on two independent keys without storing it twice — N
    * files cluster into a ~√N × √N grid over the key plane, so EITHER
    * single-key predicate touches ~√N files (vs N for the unsorted
    * dimension of a linear sort) and a 2-D box touches its corner cells
    * only. The write is one range-shuffle job (the Terasort shape, q19);
    * parquet row-group pruning applies the same stats WITHIN files, so
    * the mechanics compound at both granularities. The min-max bounds
    * come from one tiny agg job; on an append pipeline they'd be
    * maintained, not recomputed. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExpressions.register(spark)
    val li = Catalog.table(spark, dir, "lineitem")
    val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (okLo, okHi) = (b.getLong(0), b.getLong(1))
    val (pkLo, pkHi) = (b.getLong(2), b.getLong(3))
    li.withColumn("_z", call_function("zorder_interleave",
        expr(s"(l_orderkey - $okLo) * 65535 DIV ${math.max(okHi - okLo, 1L)}"),
        expr(s"(l_partkey - $pkLo) * 65535 DIV ${math.max(pkHi - pkLo, 1L)}")))
      .repartitionByRange(ZOrderFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(zorderDir)
    // the bottom-left 10% x 10% box on both keys, read FROM the layout;
    // bounds are data-derived so the predicate bites at every SF
    spark.read.parquet(zorderDir)
      .filter(col("l_orderkey") <= okLo + (okHi - okLo) / 10 &&
        col("l_partkey") <= pkLo + (pkHi - pkLo) / 10)
      .groupBy(col("l_returnflag"))
      .agg(asLong(count(lit(1))).as("n_rows"),
        Sql.dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** x32: scan through the engine's DataSourceV2 BLOCK-STORE connector
    * ([[graft.sources.BlockStoreSource]] — the reference's putBlock/getBlock
    * lifecycle on Spark's public source API). Setup loads `documents` into
    * the in-memory store executor-side (once per JVM+dir); the query then
    * reads THROUGH the connector with a doc_id range predicate (pushed →
    * block pruning on min/max stats) and a 3-column projection (pushed →
    * only those fields are materialized), aggregating per-lang counts. The
    * oracle is the same aggregate straight over the parquet table — the
    * source must be a lossless, layout-invisible reader. Pruning itself is
    * spec-asserted (BlockStoreSpec: reader-open counts + scan description). */
  def blockStoreScan(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.sources.BlockStore.ensureLoaded(spark, dir)
    val cut = graft.sources.BlockStore.maxDocId(store) / 2
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", store).load()
      .filter(col("doc_id") <= cut)
      .groupBy(col("lang"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"))
      .orderBy("lang")
  }

  /** x33: WRITE documents through the connector's V2 write path
    * ([[graft.sources.BlockStoreSource]] — staged putBlock + atomic job
    * commit; the sink itself demands doc_id range-clustering via
    * `RequiresDistributionAndOrdering`, so the caller ships an
    * unclustered frame and the landed blocks still carry disjoint
    * min/max stats), then aggregate per-source stats from a read back
    * THROUGH the connector. Overwrite mode exercises the truncate-promote
    * protocol, making re-runs idempotent in one JVM. Oracle: the same
    * aggregate straight over parquet — write → read must be lossless. */
  def blockStoreWrite(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.Landed.store("written:", dir)
    Catalog.table(spark, dir, "documents")
      .write.format("graft.sources.BlockStoreSource")
      .option("store", store).mode("overwrite").save()
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", store).load()
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"),
        asLong(max(col("doc_id"))).as("max_id"))
      .orderBy("source")
  }

  /** x34: aggregates served from the connector's block STATS — COUNT /
    * MIN(doc_id) / MAX(doc_id) completely pushed down
    * (`SupportsPushDownAggregates`), answered by one metadata row with
    * ZERO block readers opened (spec-diffed on the reader counter). The
    * parquet analogue is footer-served aggregates; at 100 TB this is the
    * difference between a catalog lookup and a full scan for the
    * bookkeeping queries every pipeline runs constantly. */
  def blockStoreAgg(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.sources.BlockStore.ensureLoaded(spark, dir)
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", store).load()
      .agg(asLong(count(lit(1))).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** x35: RUNTIME-filtered connector scan — dynamic partition pruning's
    * contract (`SupportsRuntimeFiltering`) on the block store: the
    * broadcast build side (a selective dimension filter NOT on doc_id)
    * materializes first, Spark hands the actual join keys to the scan as
    * `In(doc_id, …)`, and `planInputPartitions` drops every block whose
    * min/max box contains none of them — blocks never read, before any
    * row-level work. This is the x26 bloom-prune idea executed by the
    * SOURCE at partition granularity, and the reference's
    * "getShuffleStatus first, fetch only what you need" read discipline.
    * The oracle is the equivalent predicate straight over parquet; the
    * pruning is spec-asserted via the reader counter and the
    * `dynamicpruningexpression` in the executed plan. */
  def blockStoreRuntimePrune(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.sources.BlockStore.ensureLoaded(spark, dir)
    val dim = Catalog.table(spark, dir, "documents")
      .filter(col("source") === "src3" && col("n_chars") % 10 === 3)
      .select(col("doc_id"))
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", store).load()
      .join(broadcast(dim), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"))
      .orderBy("lang")
  }

  /** x36: the connector as a CATALOG table — pure SQL DDL + DML end to
    * end. `CREATE TABLE ... USING graft.sources.BlockStoreSource` registers
    * the store in the session catalog (V2SessionCatalog resolves the
    * provider class), `INSERT OVERWRITE` drives the x33 staged-commit
    * write path from SQL, and the SELECT plans the same pruning-capable
    * scan as the DataFrame API — no DataFrame code in the query path at
    * all. This is the surface a SQL-only user (or a BI tool) actually
    * touches; a connector that only works through `spark.read.format` is
    * half a connector. Table dropped in finally: the session catalog is
    * shared across the harness's sequential queries. */
  /** Catalog-table lifecycle shared by x36/x39/x41: land `documents` into
    * a block-store-backed SQL table via INSERT OVERWRITE, run `body`
    * (which must return an EAGER frame — the result has to survive the
    * DROP TABLE), and tear the table + temp view down whatever happens.
    * The subtle parts (eager materialization before DROP, the swallowed
    * teardown exceptions) live in this one audited copy. */
  private def withBlockTable(spark: SparkSession, dir: String, table: String,
      store: String, view: String)(body: => DataFrame): DataFrame = {
    Catalog.table(spark, dir, "documents").createOrReplaceTempView(view)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS $table
                 |USING graft.sources.BlockStoreSource
                 |OPTIONS (store '$store')""".stripMargin)
    try {
      spark.sql(s"INSERT OVERWRITE $table SELECT * FROM $view")
      body
    } finally {
      try spark.sql(s"DROP TABLE IF EXISTS $table")
      catch { case _: Exception => }
      try spark.catalog.dropTempView(view)
      catch { case _: Exception => }
    }
  }

  def blockStoreSql(spark: SparkSession, dir: String): DataFrame =
    withBlockTable(spark, dir, "graft_block_table",
        graft.Landed.store("sql:", dir), "x36_docs") {
      eager(spark, spark.sql(
        """SELECT source, lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_block_table
          |WHERE doc_id % 7 <> 0
          |GROUP BY source, lang
          |ORDER BY source, lang""".stripMargin))
    }

  /** x37: STORAGE-PARTITIONED JOIN through the connector — two corpus
    * snapshots live in the block store sharded by the SAME deterministic
    * `range_shard(width, doc_id)` ([[graft.sources.BlockStore
    * .ensureShardedSnapshots]]), both scans report that layout as a
    * `KeyGroupedPartitioning` resolved through [[graft.sources
    * .GraftBlockCatalog]], and the doc_id join plans with NO Exchange on
    * either side (spec-asserted) — Spark's native form of the reference's
    * multi-shuffle co-registration (`MapOutputTracker.scala:219-255`: one
    * partitioner shared across shuffles so the two-input stage reads
    * co-located data). At 100 TB this elides the entire store-side shuffle
    * — the exact cost the reference exists to remove. The merge hint pins
    * the co-located sort-merge plan the assertion (and a cluster) wants;
    * a broadcast here would bypass the machinery being exercised. */
  def blockStoreSpjJoin(spark: SparkSession, dir: String): DataFrame = {
    val (cur, prev) = graft.sources.BlockStore.ensureShardedSnapshots(spark, dir)
    val a = spark.table(s"graftblocks.`$cur`")
    val b = spark.table(s"graftblocks.`$prev`")
      .select(col("doc_id"), col("n_chars").as("prev_chars"))
    a.hint("merge").join(b, Seq("doc_id"))
      .filter(col("n_chars") > 300)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("prev_chars"))
      .orderBy("doc_id")
  }

  /** CSV sink+source roundtrip (doubles survive: shortest-repr write, exact
    * re-parse), verified against the parquet oracle. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = roundtrip(spark, dir, "csv")
  /** JSON-lines sink+source roundtrip. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = roundtrip(spark, dir, "json")
  /** ORC sink+source roundtrip. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = roundtrip(spark, dir, "orc")

  /** HLL sketch distinct counts with an IN-ENGINE error bound. The HLL++
    * estimate itself cannot hash-match a DuckDB oracle (sketch
    * implementations differ), so the verified output carries the exact
    * `countDistinct` alongside a `hll_ok` flag asserting the sketch's
    * relative error stayed within the 5% gate — the oracle pins `hll_ok`
    * to 1, so an out-of-bound sketch is a correctness FAILURE, not an
    * unverifiable number. The sketch is configured at rsd=0.0165 (HLL++
    * precision p=13, ~10 KB per group) so the 5% gate sits at ~3x the
    * standard error: rsd is a one-sigma figure, not a hard bound, and at
    * the default 0.05 a >5% deviation has non-trivial probability once
    * cardinality leaves the sparse-exact regime — the gate would be flaky
    * at larger SFs. At 3 sigma the false-failure probability is ~0.3% per
    * group.
    *
    * The agg is an EXPLICIT two-stage (the t8/p6 discipline): stage 1
    * dedupes on (l_returnflag, l_partkey) — one shuffle with map-side
    * combine — and stage 2 computes the exact count as count(*) and the
    * HLL over the already-distinct keys (HLL is duplicate-insensitive, so
    * the estimate is bit-identical to sketching the raw column). Writing
    * `countDistinct` + `approx_count_distinct` in one agg instead planned
    * an Expand that DOUBLED the corpus rows before the shuffle — the r7
    * bench measured that form at 4x this one. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Catalog.table(spark, dir, "lineitem")
      // COUNT(DISTINCT) parity on a nullable key: stage 1 would keep a
      // (flag, NULL) group that stage 2's count(*) counts but the
      // oracle's COUNT(DISTINCT l_partkey) excludes — the q12 NULL-key
      // rule, applied to the same two-stage pattern here
      .filter(col("l_partkey").isNotNull)
      .groupBy(col("l_returnflag"), col("l_partkey")).agg(Map.empty[String, String])
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.0165).as("approx_parts"),
        asLong(count(lit(1))).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        asLong(when(abs(col("approx_parts") - col("exact_parts")).cast(DoubleType)
          <= col("exact_parts").cast(DoubleType) * 0.05, 1L).otherwise(0L)).as("hll_ok"))
      .orderBy("l_returnflag")

  /** Typed UDAF: max + second-distinct-max of quantity per return flag.
    * NULL quantities are filtered BEFORE the agg: the Aggregator's input
    * encoder is a primitive Double and cannot represent SQL NULL (an
    * unfiltered null row would crash or decode as a spurious 0.0), while
    * the oracle's MAX subqueries ignore NULLs natively. Residual edge,
    * out of contract: a flag whose EVERY quantity is NULL drops from the
    * output here but would appear as (flag, NULL, NULL) in the oracle —
    * non-null l_quantity is a data-contract precondition (q12's rule). */
  def secondMax(spark: SparkSession, dir: String): DataFrame = {
    val sm = udaf(SecondMax)
    Catalog.table(spark, dir, "lineitem")
      .filter(col("l_quantity").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(sm(col("l_quantity")).as("sm"))
      .select(col("l_returnflag"), col("sm._1").as("max_qty"), col("sm._2").as("second_qty"))
      .orderBy("l_returnflag")
  }

  /** Generator / table-function shape: explode tokens to rows, then a
    * corpus-wide term-frequency top-30. At scale: explode is pipelined in
    * the scan stage; the doc-frequency side uses the same two-stage
    * aggregation as t8 (groupBy(token, doc_id) then groupBy(token)) so the
    * token-keyed shuffle carries vocab-bounded partials, never a hot
    * token's full doc_id set on one reducer. */
  def tokenExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    Text.withTokens(Catalog.table(spark, dir, "documents"))
      .select(col("doc_id"), explode(col("_toks")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"))
      .groupBy(col("token"))
      .agg(sum(col("n_in_doc")).as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(30)
  }

  /** Non-equi-only join → BroadcastNestedLoopJoin (the NLJ row of the §2D
    * join family; only sane with a broadcast side, which is the point). */
  def nestedLoopJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = Catalog.table(spark, dir, "region")
    val n = Catalog.table(spark, dir, "nation")
    n.join(broadcast(r), col("n_regionkey") < col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_larger_regions"))
      .orderBy("n_name")
  }

  /** As-of join via the engine's CUSTOM OPERATOR (graft.plans.AsOfJoin:
    * LogicalPlan + SparkStrategy + sort-merge SparkPlan) — same semantics
    * as the window composition in x1, but executed by a dedicated physical
    * operator with O(1) merge state per partition. */
  def asofCustom(spark: SparkSession, dir: String): DataFrame = {
    val ev = Catalog.eventsNorm(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"), col("event_id").as("p_eid"))
    graft.plans.AsOfJoin.join(ev, purchases,
        leftTime = "ts", rightTime = "p_ts",
        leftKey = "user_id", rightKey = "p_user", rightTieBreak = "p_eid")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("p_value").as("asof_value"))
      .orderBy("event_id")
  }

  /** Value-based (RANGE) window frame: per customer, orders in the trailing
    * 90 days — the frame bound is a value offset on event time, not a row
    * count. Epoch-second longs keep the frame arithmetic engine-agnostic. */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("epoch_s"))
      .rangeBetween(-90L * 24 * 3600, 0L)
    Catalog.table(spark, dir, "orders")
      .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
      .withColumn("n_orders_90d", count(lit(1)).over(w))
      .withColumn("sum_price_90d",
        moneySum(units(col("o_totalprice")), Money).over(w).cast(DoubleType))
      .select(col("o_orderkey"), col("o_custkey"), col("n_orders_90d"), col("sum_price_90d"))
      .orderBy("o_orderkey")
  }

  /** Exact interpolated percentiles (both engines use the (n-1)*p linear
    * interpolation rule; inputs are 2-decimal doubles so the arithmetic is
    * identical). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Catalog.table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      .orderBy("l_returnflag")

  private val PctAccuracy = 1000 // GK accuracy: rank error <= n/accuracy

  /** x27: `approx_percentile` with an IN-ENGINE rank-error bound — x8's
    * verification discipline applied to quantiles, the other aggregate
    * whose exact form dies first at 100 TB (exact `percentile` sorts every
    * group; the Greenwald-Khanna sketch is the streaming-mergeable scale
    * path). The sketch value itself cannot hash-match a DuckDB oracle
    * (summary implementations differ), so the verified output carries the
    * exact median alongside `pct_ok`, asserting GK's DETERMINISTIC
    * worst-case guarantee in-engine: the returned value's rank lies within
    * ±n/[[PctAccuracy]] of the target. The rank test is tie-aware — heavy
    * tie blocks (integer quantities) make `#{v <= approx}` overshoot any
    * rank bound, so the check is the two-sided form
    * `#{v < approx} <= (q+ε)n  AND  #{v >= approx-side} via #{v <= approx}
    * >= (q-ε)n`, i.e. SOME rank inside the tie block satisfies the bound.
    * Unlike x8's HLL (a one-sigma figure needing margin), GK's bound is
    * hard — pct_ok = 1 is not a flaky gate at any SF. */
  def approxPercentileBound(spark: SparkSession, dir: String): DataFrame = {
    val li = Catalog.table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
    val base = li.groupBy(col("l_returnflag"))
      .agg(expr(s"approx_percentile(l_quantity, 0.5, $PctAccuracy)").as("ap"),
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        count(lit(1)).as("n"))
    val eps = lit(1.0) / PctAccuracy
    li.join(broadcast(base), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(first(col("median_qty")).as("median_qty"),
        asLong(first(col("n"))).as("n_rows"),
        sum(when(col("l_quantity") < col("ap"), 1L).otherwise(0L)).as("n_lt"),
        sum(when(col("l_quantity") <= col("ap"), 1L).otherwise(0L)).as("n_le"))
      .select(col("l_returnflag"), col("median_qty"), col("n_rows"),
        asLong(when(
          col("n_lt").cast(DoubleType) <= (lit(0.5) + eps) * col("n_rows").cast(DoubleType)
            && col("n_le").cast(DoubleType) >= (lit(0.5) - eps) * col("n_rows").cast(DoubleType),
          1L).otherwise(0L)).as("pct_ok"))
      .orderBy("l_returnflag")
  }

  private val BloomPriceFloor = 450000.0

  /** x26: bloom-pruned semi join — the manual runtime-filter pattern.
    * "Orders over [[BloomPriceFloor]]" is a selective dimension predicate
    * (~10% of orders); the naive plan shuffles EVERY lineitem row into the
    * semi join to discard ~90% on the reduce side. Here the filtered order
    * keys are first folded into a bloom sketch ([[graft.expr.BloomFunctions]]
    * — Spark's own InjectRuntimeFilter expressions, planted explicitly
    * rather than left to optimizer-threshold luck), the sketch arrives as
    * a scalar subquery (one tiny job, result planted as a literal), and
    * `might_contain` prunes the fact table INSIDE its scan stage — at
    * 100 TB the fact-side exchange carries only surviving rows, at the
    * cost of one ~MB sketch. The sketch has no false negatives, so the
    * exact semi join downstream makes the result identical to the
    * unpruned plan (the spec proves it; the oracle is the plain semi
    * join, bloom-free by construction). */
  def bloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.BloomFunctions.register(spark)
    Catalog.table(spark, dir, "orders").createOrReplaceTempView("x26_orders")
    Catalog.table(spark, dir, "lineitem").createOrReplaceTempView("x26_lineitem")
    // might_contain REQUIRES the sketch as a scalar subquery (or constant):
    // the subquery runs once as its own tiny job and the result is planted
    // into the fact scan's filter as a literal — InjectRuntimeFilter's own
    // mechanics, so this is the SQL-text formulation, not a workaround
    spark.sql(
      s"""WITH keys AS (SELECT o_orderkey FROM x26_orders
         |              WHERE o_totalprice > $BloomPriceFloor)
         |SELECT l_returnflag,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${graft.Sql.SumRevSql} AS revenue
         |FROM x26_lineitem
         |WHERE graft_might_contain(
         |        (SELECT graft_bloom_agg(xxhash64(o_orderkey)) FROM keys),
         |        xxhash64(l_orderkey))
         |  AND l_orderkey IN (SELECT o_orderkey FROM keys)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  private[graft] val DeleteIdFloor = 400L

  /** x39: SQL `DELETE FROM` through the connector — DSv2 SupportsDelete
    * with COPY-ON-WRITE block rewrite (the Delta/Iceberg delete
    * economics on the block store): the predicate's stats projection
    * (dictionaries for lang, min/max for doc_id) exonerates
    * non-intersecting blocks without reading their payload; only
    * intersecting blocks rewrite. Two deletes exercise both stats kinds
    * — a dictionary-pruned `lang = 'de'` and a range-pruned
    * `doc_id >= [[DeleteIdFloor]]` — and the registered result is the
    * post-delete per-(source, lang) inventory read back through the
    * store, verified against DuckDB applying the same deletes as
    * filters. Unsupported predicates fail at ANALYSIS (canDeleteWhere =
    * false — no silent partial delete), spec-asserted. */
  def blockStoreDelete(spark: SparkSession, dir: String): DataFrame = {
    withBlockTable(spark, dir, "graft_del_table",
        graft.Landed.store("del:", dir), "x39_docs") {
      spark.sql("DELETE FROM graft_del_table WHERE lang = 'de'")
      spark.sql(s"DELETE FROM graft_del_table WHERE doc_id >= $DeleteIdFloor")
      eager(spark, spark.sql(
        """SELECT source, lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(min(doc_id) AS BIGINT) AS min_id,
          |       CAST(max(doc_id) AS BIGINT) AS max_id
          |FROM graft_del_table
          |GROUP BY source, lang
          |ORDER BY source, lang""".stripMargin))
    }
  }

  /** x40: hidden METADATA COLUMNS on the block store — parquet's
    * `_metadata` contract (`SupportsMetadataColumns`) on the connector:
    * `_block_shard` and `_block_rows` expose each row's enclosing block's
    * placement metadata, resolved only when referenced by name (a plain
    * `SELECT *` never sees them) and materialized per block SEGMENT, not
    * per row. The registered query reconciles physical layout against
    * logical content: per-shard row counts and id ranges from the
    * metadata columns must equal what the range-shard function
    * `shard = doc_id div width` predicts from the data alone — the
    * layout-audit query a storage engineer runs after a load. */
  def blockStoreMetadataCols(spark: SparkSession, dir: String): DataFrame = {
    val (cur, _) =
      graft.sources.BlockStore.ensureShardedSnapshots(spark, dir)
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", cur).load()
      .groupBy(col("_block_shard"))
      .agg(asLong(count(lit(1))).as("n_rows"),
        asLong(min(col("doc_id"))).as("min_id"),
        asLong(max(col("doc_id"))).as("max_id"),
        asLong(max(col("_block_rows"))).as("block_rows"))
      .select(asLong(col("_block_shard")).as("shard"), col("n_rows"),
        col("min_id"), col("max_id"), col("block_rows"))
      .orderBy("shard")
  }

  /** x41: TIME TRAVEL on the block store — `versionAsOf` reads (the
    * Delta/Iceberg snapshot contract): every transactional commit (batch
    * promote, streaming epoch, DELETE) records the resulting block array
    * as the store's next version, blocks SHARED between versions (one
    * array of references per commit, never a payload copy). The
    * registered query runs the full lifecycle — land a corpus, DELETE a
    * language, then read the pre-delete version and the current state
    * side by side — the audit-what-changed query time travel exists for.
    * Versions are addressed relative to `currentVersion` so re-runs
    * (which accumulate history) stay deterministic. */
  def blockStoreTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.Landed.store("tt:", dir)
    withBlockTable(spark, dir, "graft_tt_table", store, "x41_docs") {
      spark.sql("DELETE FROM graft_tt_table WHERE lang = 'de'")
      val vBefore = graft.sources.BlockStore.currentVersion(store) - 1
      def snap(tag: String, df: DataFrame): DataFrame =
        df.groupBy(col("lang"))
          .agg(asLong(count(lit(1))).as("n_docs"),
            asLong(sum(col("n_chars"))).as("sum_chars"))
          .withColumn("snap", lit(tag))
      val before = spark.read.format("graft.sources.BlockStoreSource")
        .option("store", store).option("versionAsOf", vBefore.toString).load()
      val now = spark.read.format("graft.sources.BlockStoreSource")
        .option("store", store).load()
      val out = snap("1_before_delete", before)
        .union(snap("2_after_delete", now))
        .select(col("snap"), col("lang"), col("n_docs"), col("sum_chars"))
        .orderBy("snap", "lang")
      eager(spark, out)
    }
  }

  /** x42: GROUPED aggregate pushdown — `GROUP BY lang, COUNT(*)` answered
    * entirely from the blocks' dictionary VALUE COUNTS (put-time stats):
    * the scan emits |langs| metadata rows and opens ZERO block readers
    * (spec-diffed on the reader counter). Parquet's dictionary pages
    * can't serve this (values without counts); the store's put-time stats
    * can — the x34 zero-read discipline extended from scalar COUNT/MIN/MAX
    * to the grouped shape every inventory query has. */
  def blockStoreGroupedAgg(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.sources.BlockStore.ensureLoaded(spark, dir)
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", store).load()
      .createOrReplaceTempView("x42_blocks")
    spark.sql(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM x42_blocks GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** x43: equal-width HISTOGRAM via `width_bucket` — the distribution-
    * shape summary (data profiling's most common chart) as one pass:
    * bucket assignment is a scalar expression inside the scan, the
    * aggregate is a ≤ 14-key groupBy (12 buckets + the two overflow
    * sentinels). The DuckDB mirror derives the bucket with the SAME
    * IEEE arithmetic width_bucket performs internally
    * (1 + floor(v / 50000) for these bounds) — an independent
    * formulation, so agreement checks the SEMANTICS of the function,
    * not a shared implementation. */
  def widthBucketHistogram(spark: SparkSession, dir: String): DataFrame =
    Catalog.table(spark, dir, "orders")
      .select(expr("width_bucket(o_totalprice, 0D, 600000D, 12)").as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(asLong(count(lit(1))).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("bucket")

  /** Land a PRODUCTION-BLOCK-SIZE store once per (JVM, dir): lineitem
    * mapped onto the documents schema — 60k rows at sf0.01 land ~3.8k
    * rows/block across the sink's 16-way clustered layout, far above the
    * adaptive columnar threshold ([[graft.sources.BlockReaderFactory
    * .ColumnarMinRows]]) that the ~30-row documents fixtures never reach.
    * This is what puts the VECTORIZED read path into the benched/verified
    * registry instead of only a spec. doc_id = orderkey·8 + linenumber
    * (unique: linenumber ≤ 7); the dictionary columns carry returnflag/
    * linestatus, so dictionary stats and pruning work unchanged. */
  private[graft] def ensureColumnarStore(spark: SparkSession, dir: String): String =
    synchronized {
      val name = graft.Landed.store("colstore:", dir)
      if (graft.sources.BlockStore.blockCount(name) == 0) {
        Catalog.table(spark, dir, "lineitem")
          .select((col("l_orderkey") * 8 + col("l_linenumber"))
              .cast(LongType).as("doc_id"),
            concat(lit("item-"), col("l_orderkey"), lit("-"),
              col("l_linenumber")).as("text"),
            col("l_returnflag").as("lang"), col("l_linestatus").as("source"),
            // floor BEFORE the cast (and in the x44 oracle): Spark's
            // double→long cast truncates toward zero while DuckDB's
            // CAST rounds — integral fixture values hide the divergence,
            // a regenerated fixture would not (repo cast discipline)
            floor(col("l_quantity")).cast(LongType).as("n_chars"))
          .write.format("graft.sources.BlockStoreSource")
          .option("store", name).mode("overwrite").save()
      }
      name
    }

  /** x45: OPTIMIZE — bin-packing compaction closing the store's table-
    * format lifecycle (ingest → delete → OPTIMIZE → read; the ANN index
    * got its compaction in sim22, the STORE itself had none): eight
    * fragmented epoch appends land ~100 tiny blocks, a dictionary-pruned
    * DELETE fragments them further, [[graft.sources.BlockStore.optimize]]
    * coalesces minId-adjacent small blocks toward 200 rows (large blocks
    * pass through unrewritten — Delta OPTIMIZE's bin-packing economics,
    * recorded as a TIME-TRAVELABLE version), and the registered read
    * aggregates the compacted store. Content is provably unchanged — the
    * oracle is the same aggregate straight over parquet; the compaction
    * mechanics (block-count drop, preserved range clustering, pre-
    * optimize version intact) are spec-asserted. */
  def blockStoreOptimize(spark: SparkSession, dir: String): DataFrame = {
    val name = graft.Landed.store("optstore:", dir)
    graft.sources.BlockStore.dropStore(name)
    val docs = Catalog.table(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val step = maxId / 8 + 1
    (0 until 8).foreach { k =>
      docs.filter(col("doc_id") >= k * step && col("doc_id") < (k + 1) * step)
        .write.format("graft.sources.BlockStoreSource")
        .option("store", name).mode("append").save()
    }
    graft.sources.BlockStore.deleteWhere(name,
      b => b.langs.contains("zh"), _._3 == "zh"): Unit
    graft.sources.BlockStore.optimize(name, targetRows = 200L): Unit
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", name).load()
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"))
      .orderBy("source")
  }

  /** x46: MERGE INTO — the lakehouse UPSERT, closing the row-level half of
    * the store's table format (x39 gave it metadata DELETE, x41 time
    * travel, x45 OPTIMIZE; updates previously required rewriting the store
    * by hand). The statement runs Spark's GROUP-BASED copy-on-write
    * rewrite against the connector's `SupportsRowLevelOperations` surface
    * ([[graft.sources.GraftRowLevelOperation]]): matched rows update,
    * unmatched source rows insert, blocks whose min/max stats the runtime
    * group filter exonerates are never read or rewritten (spec-asserted by
    * block REFERENCE identity across the merge), and the commit is an
    * optimistic validate-and-swap on the store's layout generation.
    *
    * The registered query lands documents as a catalog table, MERGEs an
    * update set (every doc_id % 10 == 3 reclassified lang 'xx', n_chars
    * recounted +7) plus an insert set (offset copies of doc_id % 10 == 7
    * tagged lang 'new'), and returns the post-merge per-lang inventory;
    * the oracle computes the same post-merge state declaratively from
    * parquet (LEFT JOIN for the updates, UNION ALL for the inserts). */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame =
    withBlockTable(spark, dir, "graft_merge_table",
        graft.Landed.store("merge:", dir), "x46_docs") {
      // the update source is corpus-PROPORTIONAL by this query's contract
      // (a fixed fraction of the corpus), so it must never broadcast-pin
      // by stats into the rewrite's joins — the r17 eager audit caught the
      // MERGE planning a doc_id-keyed broadcast of it at ×16. The
      // SHUFFLE_HASH hint rides the view subtree into both the merge join
      // and the runtime group-filter's matching-rows join.
      // the insert keys shift by a fixed 1e8 offset the oracle mirrors
      // literally — assert the precondition so a future dir whose ids
      // reach the offset fails with a named invariant instead of a
      // silent match-instead-of-insert hash mismatch (r17 ADVICE)
      val maxId = spark.table("x46_docs")
        .agg(max(col("doc_id"))).head.getLong(0)
      require(maxId < 100000000L,
        s"x46 insert-key offset assumes max(doc_id) < 1e8; dir $dir has $maxId")
      spark.sql(
        """CREATE OR REPLACE TEMP VIEW x46_updates AS
          |SELECT /*+ SHUFFLE_HASH */ * FROM (
          |  SELECT doc_id, text, 'xx' AS lang, source,
          |         n_chars + 7 AS n_chars
          |  FROM x46_docs WHERE doc_id % 10 = 3
          |  UNION ALL
          |  SELECT doc_id + 100000000 AS doc_id, text, 'new' AS lang,
          |         source, n_chars
          |  FROM x46_docs WHERE doc_id % 10 = 7)""".stripMargin)
      try {
        spark.sql(
          """MERGE INTO graft_merge_table t USING x46_updates s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED THEN UPDATE SET
            |  lang = s.lang, n_chars = s.n_chars
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        eager(spark, spark.sql(
          """SELECT lang,
            |       CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
            |FROM graft_merge_table
            |GROUP BY lang ORDER BY lang""".stripMargin))
      } finally {
        try spark.catalog.dropTempView("x46_updates")
        catch { case _: Exception => }
      }
    }

  /** x47: the COMPLETE three-clause MERGE — the lakehouse "sync a table to
    * a source" statement (Delta/Iceberg's full surface, which x46's
    * two-clause upsert lacked): matched rows update, unmatched source rows
    * insert, and target rows with NO source match conditionally DELETE
    * (`WHEN NOT MATCHED BY SOURCE`). Same DSv2 group-based copy-on-write
    * machinery as x46 ([[graft.sources.GraftRowLevelOperation]]); the
    * load-bearing difference is the group filter: a NOT-MATCHED-BY-SOURCE
    * clause makes every target row a participant, so runtime group
    * filtering cannot exonerate ANY block and the rewrite scans and
    * replaces the whole store (spec-asserted by reference in
    * RowLevelOpsSpec, alongside the SQL cardinality guard — duplicate
    * source matches per target row fail the statement and the abort
    * leaves layout/version/rows untouched).
    *
    * 100 TB note: full-store rewrite is the honest cost of the third
    * clause on ANY copy-on-write table format — production bounds it by
    * partition-scoping the merge condition; the registered shape is the
    * unbounded statement, and the per-lang inventory it returns is the
    * |langs|+2-row sync report. */
  def mergeSyncFull(spark: SparkSession, dir: String): DataFrame =
    withBlockTable(spark, dir, "graft_merge_sync_table",
        graft.Landed.store("mergesync:", dir), "x47_docs") {
      val maxId = spark.table("x47_docs")
        .agg(max(col("doc_id"))).head.getLong(0)
      require(maxId < 100000000L,
        s"x47 insert-key offset assumes max(doc_id) < 1e8; dir $dir has $maxId")
      // corpus-proportional source (a fixed fraction of the corpus): the
      // SHUFFLE_HASH hint rides the view subtree into the merge join and
      // the group-filter join (the x46 eager-audit lesson — MERGE INTO
      // itself takes no hints)
      spark.sql(
        """CREATE OR REPLACE TEMP VIEW x47_source AS
          |SELECT /*+ SHUFFLE_HASH */ * FROM (
          |  SELECT doc_id, text, 'sy' AS lang, source,
          |         n_chars + 11 AS n_chars
          |  FROM x47_docs WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 100000000 AS doc_id, text, 'ins' AS lang,
          |         source, n_chars
          |  FROM x47_docs WHERE doc_id % 10 = 4)""".stripMargin)
      try {
        spark.sql(
          """MERGE INTO graft_merge_sync_table t USING x47_source s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED THEN UPDATE SET
            |  lang = s.lang, n_chars = s.n_chars
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE AND t.n_chars % 5 = 1 THEN DELETE
            |""".stripMargin)
        eager(spark, spark.sql(
          """SELECT lang,
            |       CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
            |FROM graft_merge_sync_table
            |GROUP BY lang ORDER BY lang""".stripMargin))
      } finally {
        try spark.catalog.dropTempView("x47_source")
        catch { case _: Exception => }
      }
    }

  /** x44: an aggregate whose scan PLANS COLUMNAR — the connector hands
    * Spark ColumnarBatches (one per block) and the plan runs the
    * vectorized ColumnarToRow transition, the execution shape parquet
    * scans get (spec-asserted on the plan; blocks must be
    * production-sized, see [[ensureColumnarStore]]). The two-column
    * grouping with a SUM refuses every stats pushdown (x34/x42 serve only
    * whole-store or single-column COUNT shapes), so this is a REAL
    * vectorized scan: three pruned columns decode, `text` never
    * materializes. */
  def columnarStoreAgg(spark: SparkSession, dir: String): DataFrame = {
    val store = ensureColumnarStore(spark, dir)
    spark.read.format("graft.sources.BlockStoreSource")
      .option("store", store).load()
      .groupBy(col("lang"), col("source"))
      .agg(asLong(count(lit(1))).as("n_items"),
        asLong(sum(col("n_chars"))).as("sum_qty"))
      .orderBy("lang", "source")
  }

  private[graft] val ObsQtyFloor = 25

  /** x38: OBSERVED METRICS — pipeline audit counters via the Observation
    * API (`Dataset.observe` → CollectMetricsExec): rows-in and null-count
    * measured AT THE SCAN, rows-kept and exact decimal revenue measured
    * AFTER the quality filter, all collected as a side effect of ONE
    * pipeline pass (a noop-sink write — no second scan, no extra job per
    * metric; the Deequ-style audit-gate shape every production pipeline
    * wants around its filters). The registered result is the one-row
    * metrics report a gate would assert on.
    *
    * SCALE SHAPE: CollectMetrics is an accumulator riding the existing
    * tasks — per-partition partials merge on the driver, cost O(#metrics),
    * no shuffle, no rescan; the filter itself still pushes to the scan
    * below the metrics collector. The revenue metric goes through the
    * engine-wide DECIMAL(12,2) exact sum, so the observed value is
    * bit-identical to the oracle's aggregate. */
  def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obsIn = org.apache.spark.sql.Observation()
    val obsKept = org.apache.spark.sql.Observation()
    val staged = Catalog.table(spark, dir, "lineitem")
      .observe(obsIn, count(lit(1)).as("rows_in"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"))
      .filter(col("l_quantity") > ObsQtyFloor)
      .observe(obsKept, count(lit(1)).as("rows_kept"),
        dsum(col("l_extendedprice")).as("kept_revenue"))
    staged.write.format("noop").mode("overwrite").save()
    // the observe/CollectMetrics pipeline bypasses query-stage prep, so
    // the eager audit's capture hook sees nothing from the noop action:
    // offer the pipeline's physical plan directly when a sink is armed —
    // the StreamingOps.drain pattern for non-stage-prep executions; a
    // no-op outside audit runs. sparkPlan, NOT executedPlan: if this
    // pipeline ever gains an exchange, executedPlan becomes an
    // AdaptiveSparkPlanExec wrapper the flag walker cannot descend into
    // (silently vacuous audit row); sparkPlan is the same pre-AQE tree
    // the lazy audit walks (r17 ADVICE)
    graft.plans.PlanCapture.sink
      .foreach(_.add(staged.queryExecution.sparkPlan))
    val in = obsIn.get
    val kept = obsKept.get
    val rowsIn = in("rows_in").asInstanceOf[Long]
    val rowsKept = kept("rows_kept").asInstanceOf[Long]
    // a filter keeping zero rows observes a NULL sum (and an empty scan a
    // zero rows_in) — guard both so the audit report degrades to zeros
    // instead of an NPE/NaN
    val revenue = Option(kept("kept_revenue")).map(_.asInstanceOf[Double]).getOrElse(0.0)
    val schema = StructType(Seq(
      StructField("rows_in", LongType, nullable = false),
      StructField("null_qty", LongType, nullable = false),
      StructField("rows_kept", LongType, nullable = false),
      StructField("kept_revenue", DoubleType, nullable = false),
      StructField("keep_ratio", DoubleType, nullable = false)))
    // null_qty is a SUM: over an empty scan it observes SQL NULL, the
    // same degenerate case kept_revenue guards one line up
    val nullQty = Option(in("null_qty")).map(_.asInstanceOf[Long]).getOrElse(0L)
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        rowsIn, nullQty, rowsKept, revenue,
        if (rowsIn == 0L) 0.0 else rowsKept.toDouble / rowsIn)),
      schema)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x39_blockstore_delete" -> blockStoreDelete,
    "x40_metadata_columns" -> blockStoreMetadataCols,
    "x41_time_travel" -> blockStoreTimeTravel,
    "x42_grouped_pushdown" -> blockStoreGroupedAgg,
    "x43_width_bucket" -> widthBucketHistogram,
    "x44_columnar_scan" -> columnarStoreAgg,
    "x45_store_optimize" -> blockStoreOptimize,
    "x46_merge_upsert" -> mergeUpsert,
    "x47_merge_sync" -> mergeSyncFull,
    "x38_observed_metrics" -> observedMetrics,
    "x26_bloom_prune_join" -> bloomPruneJoin,
    "x13_range_frame" -> rangeFrame,
    "x14_percentiles" -> percentiles,
    "x12_asof_custom" -> asofCustom,
    "x10_token_explode" -> tokenExplode,
    "x11_nested_loop_join" -> nestedLoopJoin,
    "x1_asof_join" -> asofJoin,
    "x2_pivot_counts" -> pivotCounts,
    "x3_grouping_sets" -> groupingSets,
    "x4_json_extract" -> jsonExtract,
    "x5_csv_roundtrip" -> csvRoundtrip,
    "x6_json_roundtrip" -> jsonRoundtrip,
    "x7_orc_roundtrip" -> orcRoundtrip,
    "x8_approx_distinct" -> approxDistinct,
    "x9_second_max" -> secondMax,
    "x27_approx_percentile" -> approxPercentileBound,
    "x28_schema_evolution" -> schemaEvolution,
    "x29_avro_roundtrip" -> avroRoundtrip,
    "x30_corrupt_ingest" -> corruptIngest,
    "x31_zorder_layout" -> zorderLayout,
    "x32_blockstore_scan" -> blockStoreScan,
    "x33_blockstore_write" -> blockStoreWrite,
    "x34_blockstore_agg" -> blockStoreAgg,
    "x35_blockstore_runtime_prune" -> blockStoreRuntimePrune,
    "x36_blockstore_sql" -> blockStoreSql,
    "x37_blockstore_spj_join" -> blockStoreSpjJoin)

  private val RoundtripSql =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_lines
      |FROM lineitem WHERE l_orderkey % 10 = 0
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  val oracles: Map[String, String] = Map(
    "x42_grouped_pushdown" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // independent bucket derivation: 1 + floor(v/50000) on (0, 600000, 12)
    // (o_totalprice is always inside the bounds at these SFs)
    "x43_width_bucket" ->
      """SELECT CAST(1 + floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the post-merge state, declaratively: LEFT JOIN applies the updates,
    // UNION ALL the inserts — what the store must hold after MERGE INTO
    "x46_merge_upsert" ->
      """WITH up AS (SELECT doc_id, 'xx' AS lang, n_chars + 7 AS n_chars
        |            FROM documents WHERE doc_id % 10 = 3),
        |ins AS (SELECT doc_id + 100000000 AS doc_id, 'new' AS lang, n_chars
        |        FROM documents WHERE doc_id % 10 = 7),
        |m AS (SELECT d.doc_id, coalesce(u.lang, d.lang) AS lang,
        |             coalesce(u.n_chars, d.n_chars) AS n_chars
        |      FROM documents d LEFT JOIN up u ON d.doc_id = u.doc_id
        |      UNION ALL SELECT doc_id, lang, n_chars FROM ins)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // the three-clause sync, declaratively: updates override matched rows,
    // inserts append, and unmatched target rows drop when the delete
    // condition holds — the exact state MERGE's third clause must leave
    "x47_merge_sync" ->
      """WITH up AS (SELECT doc_id, 'sy' AS lang, n_chars + 11 AS n_chars
        |            FROM documents WHERE doc_id % 3 = 0),
        |ins AS (SELECT doc_id + 100000000 AS doc_id, 'ins' AS lang, n_chars
        |        FROM documents WHERE doc_id % 10 = 4),
        |kept AS (SELECT doc_id, lang, n_chars FROM documents
        |         WHERE doc_id % 3 <> 0 AND n_chars % 5 <> 1),
        |m AS (SELECT doc_id, lang, n_chars FROM up
        |      UNION ALL SELECT doc_id, lang, n_chars FROM ins
        |      UNION ALL SELECT doc_id, lang, n_chars FROM kept)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // fragmented-ingest + DELETE + OPTIMIZE must preserve content exactly:
    // the oracle is the same aggregate straight over parquet
    "x45_store_optimize" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang <> 'zh'
        |GROUP BY source ORDER BY source""".stripMargin,
    // the columnar store is lineitem re-keyed onto the documents schema
    // (x44's ensureColumnarStore mapping, mirrored exactly here)
    "x44_columnar_scan" ->
      """SELECT l_returnflag AS lang, l_linestatus AS source,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    // two snapshots of one store: pre-delete (full corpus) and current
    "x41_time_travel" ->
      """SELECT '1_before_delete' AS snap, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT '2_after_delete' AS snap, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang <> 'de' GROUP BY lang
        |ORDER BY snap, lang""".stripMargin,
    // the metadata columns carry what the range-shard function predicts
    // from the data: shard = doc_id div width, width = max_id div 16 + 1,
    // one block per shard so block_rows = the shard's row count
    "x40_metadata_columns" ->
      s"""WITH w AS (SELECT max(doc_id) // ${graft.sources.BlockStore.SpjShards}
         |             + 1 AS width FROM documents)
         |SELECT CAST(doc_id // (SELECT width FROM w) AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(min(doc_id) AS BIGINT) AS min_id,
         |  CAST(max(doc_id) AS BIGINT) AS max_id,
         |  CAST(count(*) AS BIGINT) AS block_rows
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    // the deletes, re-expressed as filters over the source table
    "x39_blockstore_delete" ->
      s"""SELECT source, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(doc_id) AS BIGINT) AS min_id,
         |  CAST(max(doc_id) AS BIGINT) AS max_id
         |FROM documents
         |WHERE lang <> 'de' AND doc_id < ${Extended.DeleteIdFloor}
         |GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin,
    "x38_observed_metrics" ->
      s"""SELECT
         |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS rows_in,
         |  CAST((SELECT count(*) FROM lineitem
         |        WHERE l_quantity IS NULL) AS BIGINT) AS null_qty,
         |  CAST(count(*) AS BIGINT) AS rows_kept,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS kept_revenue,
         |  CAST(count(*) AS DOUBLE)
         |    / (SELECT count(*) FROM lineitem) AS keep_ratio
         |FROM lineitem WHERE l_quantity > ${Extended.ObsQtyFloor}""".stripMargin,
    // bloom prune is semantically transparent (no false negatives + exact
    // semi join downstream), so the oracle is the PLAIN semi join
    "x26_bloom_prune_join" ->
      s"""SELECT l_returnflag,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  ${graft.Sql.SumRevSql} AS revenue
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
         |                     WHERE o_totalprice > $BloomPriceFloor)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x13_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |  COUNT(*) OVER w AS n_orders_90d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_price_90d
        |FROM (SELECT *, epoch_us(o_orderdate) // 1000000 AS epoch_s FROM orders) t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_s
        |             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "x14_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // x28: the merged scan must reproduce the source table exactly, with
    // the evolved column present precisely on new-generation (odd) rows —
    // AND non-null there (`source` is semantically nullable; a regenerated
    // fixture with a NULL source must not fail the scan's semantics)
    "x28_schema_evolution" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 AND source IS NOT NULL
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // x27: exact columns hash-match; pct_ok = 1 asserts the GK sketch's
    // hard rank bound held in-engine (the x8 pattern, minus the sigma
    // margin — GK's guarantee is worst-case, not probabilistic)
    "x27_approx_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS pct_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // epoch_us(..) everywhere the engine compares times: Spark sees
    // µs-truncated timestamps (ns parquet → TimestampType), so the oracle
    // must compare at the same precision or same-µs events diverge
    "x12_asof_custom" ->
      """SELECT e.event_id, e.user_id, e.event_type,
        |  (SELECT p.value FROM events p
        |   WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |     AND epoch_us(p.ts) <= epoch_us(e.ts)
        |   ORDER BY epoch_us(p.ts) DESC, p.event_id DESC LIMIT 1) AS asof_value
        |FROM events e ORDER BY e.event_id""".stripMargin,
    "x10_token_explode" ->
      s"""WITH d AS (SELECT doc_id, ${graft.functions.Text.sqlTokens("text")} AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS token FROM d)
         |SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
         |FROM e GROUP BY token
         |ORDER BY n_occurrences DESC, token LIMIT 30""".stripMargin,
    "x11_nested_loop_join" ->
      """SELECT n_name, COUNT(*) AS n_larger_regions
        |FROM nation, region WHERE n_regionkey < r_regionkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "x1_asof_join" ->
      """SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin,
    "x2_pivot_counts" ->
      s"""SELECT user_id,
         |  ${EventTypes.map(t => s"COUNT(*) FILTER (WHERE event_type = '$t') AS $t").mkString(",\n  ")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "x3_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "x4_json_extract" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "x5_csv_roundtrip" -> RoundtripSql,
    "x6_json_roundtrip" -> RoundtripSql,
    "x7_orc_roundtrip" -> RoundtripSql,
    "x29_avro_roundtrip" -> RoundtripSql,
    // the exact columns hash-match; hll_ok = 1 asserts the sketch stayed
    // within 5% of exact (an in-engine bound, pinned by the oracle)
    "x8_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS BIGINT) AS hll_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x9_second_max" ->
      """WITH m AS (SELECT l_returnflag, MAX(l_quantity) AS max_qty
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT m.l_returnflag, m.max_qty,
        |  (SELECT MAX(l_quantity) FROM lineitem li
        |   WHERE li.l_returnflag = m.l_returnflag AND li.l_quantity < m.max_qty) AS second_qty
        |FROM m ORDER BY m.l_returnflag""".stripMargin,
    // x30: both populations recomputed from the parquet table by the
    // injection rule (doc_id ≡ 3 mod 7 is corrupted); the clean digest is
    // the shared text hash, the quarantine digest the extracted doc_ids
    "x30_corrupt_ingest" ->
      s"""SELECT 'clean' AS kind, lang AS k, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(sum(${graft.functions.Text.sqlHash("text")} % 1000003) AS BIGINT) AS digest
         |FROM documents WHERE doc_id % 7 <> 3 GROUP BY lang
         |UNION ALL
         |SELECT 'corrupt' AS kind, 'json' AS k, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(0 AS BIGINT) AS sum_chars,
         |       CAST(sum(doc_id % 1000003) AS BIGINT) AS digest
         |FROM documents WHERE doc_id % 7 = 3
         |ORDER BY kind, k""".stripMargin,
    // x31: the layout is result-invisible, so the oracle is the same 2-D
    // box straight over the original table, bounds data-derived the same
    // way (integer // matches Spark's long division on positive keys)
    "x31_zorder_layout" ->
      s"""WITH b AS (SELECT min(l_orderkey) AS oklo, max(l_orderkey) AS okhi,
        |                  min(l_partkey) AS pklo, max(l_partkey) AS pkhi
        |           FROM lineitem)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  ${graft.Sql.SumRevSql} AS revenue
        |FROM lineitem, b
        |WHERE l_orderkey <= oklo + (okhi - oklo) // 10
        |  AND l_partkey <= pklo + (pkhi - pklo) // 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // x32: the connector must be a lossless reader, so the oracle is the
    // same aggregate straight over the parquet table (integer // matches
    // the Spark side's long division on positive ids)
    "x32_blockstore_scan" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id <= (SELECT max(doc_id) // 2 FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // x33: write → read through the connector must be lossless
    "x33_blockstore_write" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // x34: stats-served aggregates must equal the table-scan truth
    "x34_blockstore_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin,
    // x35: the runtime filter only skips non-matching BLOCKS; the rows
    // surviving the join are exactly the dimension predicate's rows
    "x35_blockstore_runtime_prune" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE source = 'src3' AND n_chars % 10 = 3
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // x36: SQL DDL/DML writes then reads the store losslessly, so the
    // oracle is the same SELECT straight over the parquet table
    "x36_blockstore_sql" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 7 <> 0
        |GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    // x37: the SPJ machinery is layout-only — results must equal the same
    // snapshot join straight over parquet (the "previous snapshot" store
    // is the deterministic doc_id % 3 <> 0 subset)
    "x37_blockstore_spj_join" ->
      """SELECT d.doc_id, d.lang, d.n_chars, p.n_chars AS prev_chars
        |FROM documents d
        |JOIN documents p ON d.doc_id = p.doc_id AND p.doc_id % 3 <> 0
        |WHERE d.n_chars > 300
        |ORDER BY d.doc_id""".stripMargin)
}
