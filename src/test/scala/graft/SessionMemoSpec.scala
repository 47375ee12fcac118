package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session memo's two serving properties: a warm g5 call is a
  * memo hit, and a memo whose checkpoint blocks are gone rebuilds
  * instead of failing every later call.
  */
class SessionMemoSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(s: SparkSession, q: String): Seq[String] =
    SparkEntry.queries(q)(s, sf).collect().map(_.toString).toSeq

  /** Jobs started while `f` runs. */
  private def jobsIn[T](f: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("g5: a warm call serves the memoized labeling (cold result, <= 5 jobs)") {
    val s = spark.newSession()
    val (cold, coldJobs) = jobsIn(rows(s, "g5_components"))
    val (warm, warmJobs) = jobsIn(rows(s, "g5_components"))
    assert(warm == cold, "a warm call must return the cold result")
    assert(warmJobs <= 5,
      s"warm g5 ran $warmJobs jobs (cold $coldJobs): the contraction re-ran")
  }

  test("lost checkpoint blocks rebuild: every memoized family returns its pre-loss result") {
    val s = spark.newSession()
    // the first six read checkpointed memos, the last two persisted ones
    val families = Seq("d5_components", "g5_components", "s5_kmeans_assign",
      "t42_dsir_weights", "t41_substring_dedup", "d10_allpairs_jaccard",
      "d13_incremental_admit", "s12_incremental_admit")
    val kept = spark.sparkContext.getPersistentRDDs.keySet
    val before = families.map(q => q -> rows(s, q)).toMap
    // drop the blocks this session's memos hold — executor loss or a
    // scale-down in a real cluster; other suites' cached relations stay
    val lost = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !kept(id) }.values
    assert(lost.nonEmpty, "the families must have checkpointed something")
    lost.foreach(_.unpersist(blocking = true))
    // served as they were, these entries fail every call with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; rebuilt, they match, and the
    // rebuilt entries serve the next call too
    (1 to 2).foreach(_ => families.foreach { q =>
      assert(rows(s, q) == before(q), s"$q changed after block loss")
    })
  }
}
