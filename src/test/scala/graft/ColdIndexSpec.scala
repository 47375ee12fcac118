package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.SessionMemo
import graft.sim.Similarity
import graft.text.Dedup

/** Index-lifecycle contract (r8 verdict "What's missing #2" + ADVICE r8
  * low): the session-memoized corpus indexes (LSH bucket table, curated
  * band index) must REBUILD when the corpus path's content changes — a
  * stale-index read silently returns results for data that no longer
  * exists, a correctness hazard the r8 memoization introduced and
  * nothing tested.
  */
class ColdIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("SessionMemo: hit on unchanged path, rebuild on rewrite, explicit invalidate") {
    val cache = new SessionMemo.Persisted
    val dir = freshDir("graft_cis")
    Files.write(Paths.get(dir, "part-0"), "v1".getBytes)
    val b0 = cache.builds.get()

    def probe() = cache(spark, dir)(spark.range(3).toDF("id"))
    probe(); assert(cache.builds.get() == b0 + 1, "first access builds")
    probe(); assert(cache.builds.get() == b0 + 1, "unchanged path is a hit")

    Files.write(Paths.get(dir, "part-1"), "v2".getBytes) // corpus rewrite
    probe(); assert(cache.builds.get() == b0 + 2, "changed content rebuilds")
    probe(); assert(cache.builds.get() == b0 + 2, "then hits again")

    SessionMemo.invalidateAll(dir)
    probe(); assert(cache.builds.get() == b0 + 3, "invalidateAll() forces rebuild")
  }

  test("signature moves on file add/remove/rewrite and is stable otherwise") {
    val dir = freshDir("graft_sig")
    Files.write(Paths.get(dir, "a"), "x".getBytes)
    val s1 = SessionMemo.signature(dir)
    assert(s1 == SessionMemo.signature(dir), "stable on no change")
    Files.write(Paths.get(dir, "b"), "y".getBytes)
    val s2 = SessionMemo.signature(dir)
    assert(s2 != s1, "file add moves the signature")
    Files.delete(Paths.get(dir, "a"))
    val s3 = SessionMemo.signature(dir)
    assert(s3 != s2 && s3 != s1, "file remove moves the signature")
    assert(SessionMemo.signature(s"$dir/nope") == "absent")
  }

  test("a regenerated embeddings corpus rebuilds the LSH bucket index (no stale vec_ids)") {
    val dir = freshDir("graft_cold_emb")
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
    src.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val ids1 = Similarity.bucketTable(spark, dir)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids1.nonEmpty && ids1.max < 100000L)

    // the corpus is REGENERATED in place with a disjoint id space — the
    // exact move the scale tooling makes when it rewrites a tier
    src.withColumn("vec_id", col("vec_id") + 100000L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val ids2 = Similarity.bucketTable(spark, dir)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids2.nonEmpty && ids2.forall(_ >= 100000L),
      "bucket index served STALE vec_ids after the corpus was rewritten")
  }

  test("the fused payload indexes (float/int8) rebuild on corpus rewrite too") {
    // r9 score-in-join: s2/s3 self-join a SECOND cached relation (bucket
    // rows + scoring payload); a stale one serves wrong neighbors even
    // when the narrow bucket index is fresh, so it gets the same pin
    val dir = freshDir("graft_cold_fused")
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
    src.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    def s2Ids() = Similarity.s2AnnLsh(spark, dir)
      .select("q_id").distinct().collect().map(_.getLong(0)).toSet
    def s3Ids() = Similarity.s3EmbeddingNeardup(spark, dir)
      .select("vec_a").collect().map(_.getLong(0)).toSet
    val warm2 = s2Ids(); val warm3 = s3Ids()
    assert(warm2.nonEmpty && warm2.max < 100000L)

    src.withColumn("vec_id", col("vec_id") + 100000L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    assert(s2Ids().forall(_ >= 100000L),
      "fused s2 served STALE vec_ids after the corpus was rewritten")
    assert(warm3.isEmpty || s3Ids().forall(_ >= 100000L),
      "fused s3 served STALE vec_ids after the corpus was rewritten")
  }

  test("a regenerated documents corpus rebuilds the curated band index") {
    val dir = freshDir("graft_cold_doc")
    val src = spark.read.parquet(s"$sf/documents.parquet")
    src.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val b0 = Dedup.corpusBandIndexCache.builds.get()
    Dedup.d13IncrementalAdmit(spark, dir).count()
    assert(Dedup.corpusBandIndexCache.builds.get() == b0 + 1)
    Dedup.d13IncrementalAdmit(spark, dir).count()
    assert(Dedup.corpusBandIndexCache.builds.get() == b0 + 1,
      "unchanged corpus must hit the cached band index")

    src.sample(withReplacement = false, 0.5, seed = 7)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.d13IncrementalAdmit(spark, dir).count()
    assert(Dedup.corpusBandIndexCache.builds.get() == b0 + 2,
      "rewritten corpus must rebuild the band index")
  }
}
