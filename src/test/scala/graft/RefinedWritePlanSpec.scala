package graft

import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.Lake
import graft.model.Schemas
import graft.ops.RefinedQuery
import scala.jdk.CollectionConverters._

/** The refined top-5 as the lake writes it (ETL_glue_pregao_B3.json:240-268):
  * `Lake.writeRefined(RefinedQuery.refinedDsl(raw), path)` partitions by
  * (acao, created_at), and the write must keep the top-K shape the
  * query has when collected — TakeOrderedAndProject, no range exchange
  * and global sort over every (cod, acao) group. Checked on the plan the
  * write actually executed.
  *
  * The catalog arm (`Some(table)`) writes the same rows but still
  * global-sorts: the table keeps its partition columns last, so its
  * writes reorder the batch's columns, and that reorder ends up between
  * the Limit and the Sort beside the write's own `empty2null(acao)`
  * projection. Its test checks the rows only.
  */
class RefinedWritePlanSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** A three-day raw zone of 39 (cod, acao) groups, read back the way the
    * lake reads it. Totals tie in pairs, so the top-5 cut falls inside a
    * tie (C34, C35) and the (cod, acao) tie-break decides it.
    */
  private def rawZone(): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("refined_raw").toString
    (1 to 3).foreach { d =>
      val day = (1 to 39).map(i =>
        (f"C$i%02d", s"ACAO${i % 7}", "ON", (i / 2).toLong * 1000L + d, 0.1))
        .toDF("cod", "acao", "tipo", "qtde_teorica", "part_teorica_porc")
      Lake.writeRawDaily(day, dir, LocalDate.of(2025, 8, d))
    }
    Lake.readRaw(spark, dir)
  }

  /** Every physical node the executed plans ran, AQE stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  /** Run `write` and return the executed plans of the queries it ran, as
    * a `QueryExecutionListener` sees them (delivered asynchronously, so
    * wait until the write's own plan has arrived).
    */
  private def executedPlans(write: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write
      def writes = seen.asScala.toSeq.map(_.executedPlan)
        .filter(p => nodes(p).exists(_.nodeName.contains("Execute")))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(writes.nonEmpty, "no write plan reached the listener")
      writes
    } finally spark.listenerManager.unregister(listener)
  }

  /** Written rows, with the partition columns read back as strings. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long, String)] =
    df.selectExpr("cod", "acao", "total_qtde_teorica_dos_ultimos_7_dias",
      "CAST(created_at AS STRING)").as[(String, String, Long, String)]
      .collect().toSeq.sortBy(r => (r._1, r._2))

  test("writeRefined to a path writes the top-5 through TakeOrderedAndProject") {
    val refined = RefinedQuery.refinedDsl(rawZone())
    assert(refined.columns.toSeq == Schemas.b3Refined.fieldNames.toSeq)
    val expected = rowsOf(refined)
    assert(expected.map(_._1) == Seq("C34", "C36", "C37", "C38", "C39"))
    val path = Files.createTempDirectory("refined_plan").toString + "/refined"
    val plans = executedPlans(Lake.writeRefined(refined, path))
    val all = plans.flatMap(nodes)
    val shown = plans.map(_.treeString).mkString("\n")
    assert(all.exists(_.nodeName == "TakeOrderedAndProject"),
      s"the refined write does not use a top-K:\n$shown")
    assert(!all.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, s"the refined write range-partitions every group:\n$shown")
    assert(rowsOf(spark.read.parquet(path)) == expected)
  }

  test("writeRefined to a catalog table writes the collected top-5") {
    spark.sql("CREATE DATABASE IF NOT EXISTS tech_fiap")
    val table = "tech_fiap.b3_refined_plan"
    val path = Files.createTempDirectory("refined_plan_t").toString + "/b3"
    val refined = RefinedQuery.refinedDsl(rawZone())
    val expected = rowsOf(refined)
    try {
      // the first write creates the table; the second appends through
      // the arm that aligns the batch to the table's schema
      Lake.writeRefined(refined, path, Some(table))
      Lake.writeRefined(refined, path, Some(table))
      val back = rowsOf(spark.table(table))
      assert(back == (expected ++ expected).sortBy(r => (r._1, r._2)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
