package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.IndexTables
import graft.sim.Similarity

/** The fused ANN index's disk-persisted bucketed-table form (r9 verdict
  * "What's missing #1"): the session-cache persist dies with the
  * session; the 100 TB artifact is a catalog TABLE bucketed on
  * (tbl, bk) whose bucket self-join plans exchange-free off the SCAN in
  * a fresh session. This spec pins:
  *   1. zero Exchange + `Bucketed: true` on the table-backed self-join,
  *   2. cold-session s2/s3/s12 bit-identical to the cache-built form,
  *      with the session cache provably not consulted (builds counter),
  *   3. staleness: a corpus content change makes the table invisible
  *      (serve → None) and consumers fall back to the cache build.
  */
class BucketedAnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  /** A private temp corpus (copy of sf0.001's embeddings) so the
    * persisted table can't leak into other suites' plans for the
    * shared testdata path.
    */
  private def tempCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    dir.toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("persisted index serves a fresh session bit-identically, exchange-free") {
    val d = tempCorpus()
    val path = s"$d/embeddings.parquet"
    try {
      // baselines from the session-cache build (no table exists yet)
      val s2Cache = rows(Similarity.s2AnnLsh(spark, d))
      val s3Cache = rows(Similarity.s3EmbeddingNeardup(spark, d))
      val s12Cache = rows(Similarity.s12IncrementalAdmit(spark, d))
      assert(s2Cache.nonEmpty && s3Cache.nonEmpty && s12Cache.nonEmpty)

      val table = Similarity.persistAnnIndex(spark, d, buckets = 4)
      Similarity.persistAdmissionIndex(spark, d, buckets = 4)
      assert(IndexTables.serve(spark, "annf", path).isDefined,
        "freshly persisted index not served")

      // a FRESH session (cold session memos — they key by session)
      // must serve the table — its cache entry is the cheap bucketed
      // table SCAN, so the expensive hyperplane index (bucketTable's
      // cache) is never consulted, and the from-scratch build
      // (bucketTable ⋈ norms) never runs
      val fresh = spark.newSession()
      val hyperBuilds0 = Similarity.bucketIndexCache.builds.get()
      assert(rows(Similarity.s2AnnLsh(fresh, d)) == s2Cache,
        "table-backed s2 diverged from the cache-built form")
      assert(rows(Similarity.s3EmbeddingNeardup(fresh, d)) == s3Cache,
        "table-backed s3 diverged from the cache-built form")
      assert(rows(Similarity.s12IncrementalAdmit(fresh, d)) == s12Cache,
        "table-backed s12 diverged from the cache-built form")
      assert(Similarity.bucketIndexCache.builds.get() == hyperBuilds0,
        "fresh session recomputed the hyperplane index despite the table")

      // the bucket self-join consumes the table's layout: no Exchange
      // below the join, scan reports Bucketed: true (broadcast disabled
      // — at test SF, AQE would broadcast one side and hide the
      // partitioning property under test)
      val prevT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val bi = spark.table(table)
        val selfJoin = bi.as("a").join(bi.as("c").hint("shuffle_hash"),
            col("a.tbl") === col("c.tbl") && col("a.bk") === col("c.bk") &&
              col("a.vec_id") < col("c.vec_id"))
          .select(col("a.vec_id"), col("c.vec_id"))
        val n = countShuffles(selfJoin)
        val plan = selfJoin.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"self-join scan did not use the bucket layout:\n$plan")
        assert(n == 0, s"table-backed self-join planned $n exchanges (want 0):\n$plan")
      } finally {
        def restore(k: String, v: Option[String]): Unit = v match {
          case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k)
        }
        restore("spark.sql.autoBroadcastJoinThreshold", prevT)
        restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
      }

      // staleness: any corpus content change (here: mtime — the
      // signature's cheapest-moving part) makes the table invisible and
      // the consumer falls back to the session-cache build
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000))
      assert(IndexTables.serve(spark, "annf", path).isEmpty,
        "stale-stamped table still served")
      val builds1 = Similarity.floatBucketIndexCache.builds.get()
      assert(rows(Similarity.s3EmbeddingNeardup(fresh, d)) == s3Cache,
        "post-staleness rebuild diverged")
      assert(Similarity.floatBucketIndexCache.builds.get() == builds1 + 1,
        "stale table did not trigger a cache rebuild")
    } finally {
      IndexTables.drop(spark, "annf", path)
      IndexTables.drop(spark, "adm", path)
    }
  }

  test("d13's corpus band index serves a fresh session from its persisted table") {
    val dir = java.nio.file.Files.createTempDirectory("band_idx_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"),
      dir.resolve("documents.parquet"))
    val d = dir.toString
    val path = s"$d/documents.parquet"
    try {
      val baseline = rows(graft.text.Dedup.d13IncrementalAdmit(spark, d))
      assert(baseline.nonEmpty)
      graft.text.Dedup.persistBandIndex(spark, d, buckets = 4)
      assert(IndexTables.serve(spark, "band", path).isDefined,
        "freshly persisted band index not served")
      val fresh = spark.newSession()
      assert(rows(graft.text.Dedup.d13IncrementalAdmit(fresh, d)) == baseline,
        "table-backed d13 diverged from the cache-built form")
    } finally IndexTables.drop(spark, "band", path)
  }
}
