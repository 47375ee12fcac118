package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lake.{IndexTables, SessionMemo}
import graft.sim.Similarity

/** Lifecycle hygiene of the persisted index tables (ADVICE r10, all
  * four items):
  *   1. table names carry the FULL path hash — distinct corpus paths
  *      can never share a catalog table;
  *   2. a visible table is always signature-stamped (persist stamps the
  *      staging table BEFORE the swap), so "permanently unstamped
  *      orphan" is not a reachable state for the serving name;
  *   3. serve() on a stamp mismatch DROPS the stale table instead of
  *      leaking it on disk forever;
  *   4. IndexTables.drop evicts the session caches for the path, so a
  *      wrapper that cached a scan of the dropped table rebuilds from
  *      scratch instead of recomputing against a missing table.
  */
class IndexTableLifecycleSpec extends AnyFunSuite {
  import TestSpark._

  private def tempCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("idx_lc_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    dir.toString
  }

  test("table names use the full path hash — no 48-bit collisions by construction") {
    val a = IndexTables.tableName("annf", "/corpus/a")
    val b = IndexTables.tableName("annf", "/corpus/b")
    assert(a != b)
    // full MD5 = 32 hex chars after the prefix
    assert(a.matches("graft_annf_[0-9a-f]{32}"), a)
  }

  test("a served table is always stamped; serve on mismatch drops the stale table") {
    val d = tempCorpus()
    val path = s"$d/embeddings.parquet"
    try {
      val table = Similarity.persistAnnIndex(spark, d, buckets = 4)
      assert(spark.catalog.tableExists(table))
      // the staging table must not survive the swap
      assert(!spark.catalog.tableExists(table + "_staging"),
        "staging table leaked past the persist swap")
      assert(IndexTables.serve(spark, "annf", path).isDefined)

      // rewrite the corpus (mtime moves the content signature)
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000))
      assert(IndexTables.serve(spark, "annf", path).isEmpty,
        "stale-stamped table still served")
      // ...and the garbage table was dropped, not leaked
      assert(!spark.catalog.tableExists(table),
        "stale table left in the catalog after a mismatch serve")
    } finally IndexTables.drop(spark, "annf", path)
  }

  test("drop evicts the session caches so a cached table scan rebuilds from scratch") {
    val d = tempCorpus()
    val path = s"$d/embeddings.parquet"
    try {
      Similarity.persistAnnIndex(spark, d, buckets = 4)
      val baseline = Similarity.s3EmbeddingNeardup(spark, d)
        .collect().map(_.toString).toSeq
      // the float bucket index cache now holds a plan that SCANS the
      // catalog table; dropping the table must evict that entry
      val builds0 = Similarity.floatBucketIndexCache.builds.get()
      IndexTables.drop(spark, "annf", path)
      val after = Similarity.s3EmbeddingNeardup(spark, d)
        .collect().map(_.toString).toSeq
      assert(after == baseline,
        "post-drop rebuild diverged from the table-backed result")
      assert(Similarity.floatBucketIndexCache.builds.get() == builds0 + 1,
        "dropping the table did not evict the cached table-scan plan")
    } finally IndexTables.drop(spark, "annf", path)
  }

  test("compact evicts the session caches — a cached wrapper probe survives the file swap") {
    // ADVICE r13 #1: compact rewrites the table's FILES while the
    // corpus signature stays unchanged, so a wrapper entry keyed on
    // (path, signature) still reads "fresh" while its cached plan
    // references the deleted pre-compact files — the next probe throws
    // FileNotFoundException once the persisted blocks age out.
    // compact must evict like appendIncrement does.
    val d = tempCorpus()
    val path = s"$d/embeddings.parquet"
    try {
      Similarity.persistAnnIndex(spark, d, buckets = 4)
      val baseline = Similarity.s3EmbeddingNeardup(spark, d)
        .collect().map(_.toString).toSeq
      val builds0 = Similarity.floatBucketIndexCache.builds.get()
      assert(IndexTables.compact(spark, "annf", path).isDefined,
        "a fresh table must compact")
      // probe THROUGH the cached wrapper: must rebuild (eviction), not
      // reuse a plan over the swapped-out files — and produce the
      // identical result off the compacted table
      val after = Similarity.s3EmbeddingNeardup(spark, d)
        .collect().map(_.toString).toSeq
      assert(after == baseline,
        "post-compact probe diverged from the pre-compact result")
      assert(Similarity.floatBucketIndexCache.builds.get() == builds0 + 1,
        "compact did not evict the cached table-scan plan")
    } finally IndexTables.drop(spark, "annf", path)
  }

  test("a crash between persist statements leaves a recoverable state") {
    // Simulate the two crash windows persist's docstring claims are
    // safe: (a) after the staging write but before the swap — the
    // serving name is absent (or the OLD table), never an unstamped
    // target, and the next persist overwrites the orphan; (b) after
    // DROP but before RENAME — serve falls back to None (from-scratch
    // build) and the next persist heals the catalog.
    val d = tempCorpus()
    val path = s"$d/embeddings.parquet"
    val table = IndexTables.tableName("annf", path)
    try {
      // (a) orphaned staging table from a "crashed" earlier persist
      import spark.implicits._
      Seq((1L, 2L)).toDF("bucket", "id")
        .write.mode("overwrite").saveAsTable(table + "_staging")
      assert(IndexTables.serve(spark, "annf", path).isEmpty,
        "an unswapped staging orphan must not serve")
      val t = Similarity.persistAnnIndex(spark, d, buckets = 4)
      assert(t == table && spark.catalog.tableExists(table))
      assert(!spark.catalog.tableExists(table + "_staging"),
        "persist did not overwrite the crashed staging orphan")
      assert(IndexTables.serve(spark, "annf", path).isDefined)

      // (b) crash between DROP and RENAME: target gone, staging intact
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}_staging")
      assert(IndexTables.serve(spark, "annf", path).isEmpty,
        "a dropped target must fall back, not fail")
      val t2 = Similarity.persistAnnIndex(spark, d, buckets = 4)
      assert(t2 == table && spark.catalog.tableExists(table))
      assert(!spark.catalog.tableExists(table + "_staging"))
      assert(IndexTables.serve(spark, "annf", path).isDefined)
    } finally {
      IndexTables.drop(spark, "annf", path)
      spark.sql(s"DROP TABLE IF EXISTS ${table}_staging")
    }
  }

  test("invalidateAll reaches every registered cache instance") {
    val c1 = new SessionMemo.Persisted
    val c2 = new SessionMemo.Persisted
    val ck = new SessionMemo.Checkpointed
    val dir = java.nio.file.Files.createTempDirectory("idx_lc_inv").toString
    import spark.implicits._
    c1(spark, dir)(Seq(1).toDF("x"))
    c2(spark, dir)(Seq(2).toDF("x"))
    ck(spark, dir)(Seq(3).toDF("x"))
    val (b1, b2, bk) = (c1.builds.get(), c2.builds.get(), ck.builds.get())
    SessionMemo.invalidateAll(dir)
    c1(spark, dir)(Seq(1).toDF("x"))
    c2(spark, dir)(Seq(2).toDF("x"))
    assert(c1.builds.get() == b1 + 1 && c2.builds.get() == b2 + 1,
      "invalidateAll missed a registered instance")
    // a checkpointed entry has no lineage to dangle, and
    // Graph.warmLpaAfterAppend reads one right after an append
    // invalidated its tier: it must survive
    assert(ck(spark, dir)(Seq(3).toDF("x")).as[Int].collect().toSeq == Seq(3))
    assert(ck.builds.get() == bk,
      "invalidateAll evicted a checkpointed entry")
  }
}
