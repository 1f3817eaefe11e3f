package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions installs vec_dot and the as-of strategy without imperative registration") {
    val base = spark // force shared-session (and SparkContext) creation
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions).getOrCreate()
      finally {
        SparkSession.setDefaultSession(base)
        SparkSession.setActiveSession(base)
      }
    assert(ext ne base)

    // function registry path: SQL text, no VectorExpressions.register call
    val d = ext.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0)

    // planner-strategy path: build the logical node directly (bypassing
    // AsOfJoin.join, which would fall back to experimental registration)
    val l = ext.range(4).select(col("id").as("t"), (col("id") % 2).as("k"))
    val r = ext.range(2).select((col("id") * 2).as("rt"), (col("id") % 2).as("rk"),
      col("id").as("tb"))
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    val plan = graft.plans.AsOfJoinPlan(lp, rp,
      a(lp, "t"), a(rp, "rt"), a(lp, "k"), a(rp, "rk"), a(rp, "tb"))
    val joined = org.apache.spark.sql.GraftSqlBridge.ofRows(ext, plan)
    assert(joined.count() == 4)

    // query-stage-prep path: an explicit two-key sort plans the tie-run pass
    val sorted = ext.range(100).selectExpr("id % 3 AS a", "id AS b")
      .repartition(2).sortWithinPartitions("a", "b")
    assert(sorted.queryExecution.executedPlan.toString.contains("TieRunSort"))
  }

  test("closed-session emission matches batch sessionization minus each user's open session") {
    val closed = graft.streaming.StreamingOps.closedSessions(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_closed"), sum(col("n_events")).as("ev_closed"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // batch reference: session count and total events per user
    val batch = graft.streaming.StreamingOps.sessionWindows(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("ev_total"),
        max(struct(col("session_start"), col("n_events"))).as("last"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getStruct(3).getAs[Long]("n_events"))).toMap

    assert(batch.nonEmpty)
    batch.foreach { case (uid, (nSess, evTotal, evLast)) =>
      val (nClosed, evClosed) = closed.getOrElse(uid, (0L, 0L))
      assert(nClosed == nSess - 1, s"user $uid: closed=$nClosed sessions=$nSess")
      assert(evClosed == evTotal - evLast, s"user $uid: event totals")
    }
  }
}
