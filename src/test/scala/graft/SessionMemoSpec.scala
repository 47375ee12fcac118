package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Dsir, SetSimilarity, SubstringDedup}

/** The session memo's serving properties: a warm g5, d10, t41 or t42
  * call is a memo hit, a memo whose checkpoint blocks are gone rebuilds
  * instead of failing every later call, and a fresh index table is
  * served ahead of a memoized result.
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

  /** The memos that hold a whole query result, by query. */
  private val resultMemos = Map(
    "d10_allpairs_jaccard" -> SetSimilarity.pairsMemo,
    "t41_substring_dedup" -> SubstringDedup.cutMemo,
    "t42_dsir_weights" -> Dsir.weightsMemo)

  resultMemos.foreach { case (q, memo) =>
    test(s"$q: a warm call serves the memoized result (cold rows, <= 2 jobs)") {
      val s = spark.newSession()
      val cold = rows(s, q)
      val (builds, hits) = (memo.builds.get, memo.hits.get)
      val (warm, warmJobs) = jobsIn(rows(s, q))
      assert(warm == cold, "a warm call must return the cold result")
      assert(warmJobs <= 2, s"warm $q ran $warmJobs jobs: the query re-ran")
      assert(memo.builds.get == builds && memo.hits.get == hits + 1,
        "a warm call must hit the memo, not rebuild it")
    }
  }

  test("a fresh ngo or dsir table is served ahead of the t41/t42 memos") {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("memo_served").toString
    graft.lake.Tables.documents(spark, sf)
      .write.parquet(s"$dir/documents.parquet")
    val t41 = () => SubstringDedup.t41SubstringDedup(s, dir).collect().toSeq
    val t42 = () => Dsir.t42DsirWeights(s, dir).collect().toSeq
    val cold = (t41(), t42())
    SubstringDedup.persistOccurrenceIndex(spark, dir, buckets = 4)
    Dsir.persistRatioTable(spark, dir, buckets = 4)
    try {
      assert(SubstringDedup.servedOccurrences(s, dir).nonEmpty &&
        Dsir.servedCounts(s, dir).nonEmpty)
      val memos = Seq(SubstringDedup.cutMemo, Dsir.weightsMemo)
      def counts = memos.map(m => (m.builds.get, m.hits.get))
      val before = counts
      assert((t41(), t42()) == cold, "the served rows must equal the cold ones")
      assert(counts == before, "a served call must not consult the memos")
    } finally {
      SubstringDedup.dropOccurrenceIndex(spark, dir)
      Dsir.dropRatioTable(spark, dir)
    }
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
    val lostRebuilds = resultMemos.map { case (q, m) => q -> m.lostRebuilds.get }
    // served as they were, these entries fail every call with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; rebuilt, they match, and the
    // rebuilt entries serve the next call too
    (1 to 2).foreach(_ => families.foreach { q =>
      assert(rows(s, q) == before(q), s"$q changed after block loss")
    })
    resultMemos.foreach { case (q, m) =>
      assert(m.lostRebuilds.get == lostRebuilds(q) + 1,
        s"$q's result memo must rebuild its lost entry once")
    }
  }
}
