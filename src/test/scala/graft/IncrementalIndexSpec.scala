package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Dedup
import graft.sim.Similarity
import graft.queries.Graph

/** Incremental maintenance of the persisted index TABLES (r12 verdict
  * #2): until now every signature-stamped artifact was invalidated by
  * ANY corpus change and fully rebuilt — at 100 TB a daily crawl pays a
  * corpus-sized rebuild per day (the g7/g8 sf10 persist alone is 85 s).
  * `IndexTables.appendIncrement` lets the maintainer append exactly the
  * increment's derived rows and re-stamp. This spec pins the demanded
  * equivalence on all three legs:
  *
  *   (persist on C) + (admit increment) + (append admitted rows)
  *     ≡ (full rebuild on C ∪ admitted)
  *
  * — row-for-row for the row-decomposable band/bucket indexes, and up
  * to the exchange-free merge-aggregate for the additive co-order
  * adjacency — plus the production-meaningful corollary: a SECOND
  * increment admitted against the appended table equals admission
  * against a from-scratch rebuild. Also pinned: the prevSig guard (a
  * foreign rewrite throws instead of silently extending the wrong
  * index), the crash posture (append-before-restamp — a stamp mismatch
  * can only ever DROP, never serve stale), and that the merged
  * adjacency plans ZERO exchanges over the bucketed scan.
  */
class IncrementalIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  // ---- text band index ---------------------------------------------

  test("band index: persist + admit + append ≡ full rebuild on corpus ∪ admitted; second admission equal either way; wrong prevSig throws") {
    val dir = java.nio.file.Files.createTempDirectory("inc_band")
    val p = s"$dir/corpus.parquet"
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    // three disjoint id ranges: corpus, today's crawl, tomorrow's
    val corpus0 = docs.filter(col("doc_id") < 3L * n / 5L)
    val inc1 = docs.filter(col("doc_id") >= 3L * n / 5L &&
      col("doc_id") < 4L * n / 5L)
    val inc2 = docs.filter(col("doc_id") >= 4L * n / 5L)
    corpus0.write.parquet(p)
    try {
      val corpus = spark.read.parquet(p)
      Dedup.persistBandIndexFor(spark, p, corpus, buckets = 4)
      val prevSig = Dedup.bandIndexStamp(spark, p).get

      val served = Dedup.servedBandIndex(spark, p).get
      val admitted = Dedup
        .admitIncrement(corpus, inc1, corpusBands = Some(served))
        .localCheckpoint()
      assert(admitted.count() > 0 && admitted.count() < inc1.count(),
        "fixture must exercise both admit and drop")

      // the increment lands in the corpus, then the index extends
      admitted.write.mode("append").parquet(p)
      Dedup.appendBandIndex(spark, p, admitted, prevSig)

      // the appended table is fresh (stamp == the grown corpus) and
      // equals a from-scratch rebuild row for row
      val grown = spark.read.parquet(p)
      assert(Dedup.bandIndexStamp(spark, p)
        .contains(graft.lake.SessionMemo.signature(p)),
        "append did not re-stamp to the grown corpus")
      val appended = Dedup.servedBandIndex(spark, p).get
      assert(rowSet(appended) == rowSet(Dedup.bandIndex(grown)),
        "appended band table != full rebuild on corpus ∪ admitted")

      // production corollary: tomorrow's crawl admits identically off
      // the appended table and off a from-scratch rebuild
      val viaAppended = rowSet(Dedup.admitIncrement(grown, inc2,
        corpusBands = Some(appended)).select("doc_id"))
      val viaRebuild = rowSet(Dedup.admitIncrement(grown, inc2,
        corpusBands = Some(Dedup.bandIndex(grown))).select("doc_id"))
      assert(viaAppended == viaRebuild,
        "admission off the appended index diverged from a rebuild")

      // foreign-rewrite guard: the stale prevSig must throw, not extend
      intercept[IllegalStateException] {
        Dedup.appendBandIndex(spark, p, inc2, prevSig)
      }
    } finally graft.lake.IndexTables.drop(spark, "band", p)
  }

  test("band index crash posture: rows appended but not re-stamped can only DROP, never serve (append-before-restamp)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_band_crash")
    val p = s"$dir/corpus.parquet"
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    docs.filter(col("doc_id") < n / 2).write.parquet(p)
    try {
      Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p), buckets = 4)
      // simulate the crash window: the corpus grows but the append
      // never ran — the stamp now mismatches, and serve must refuse
      // (and drop) rather than return an index missing the new docs
      docs.filter(col("doc_id") >= n / 2).write.mode("append").parquet(p)
      assert(Dedup.servedBandIndex(spark, p).isEmpty,
        "a stale-stamped index served after the corpus changed")
      assert(Dedup.bandIndexStamp(spark, p).isEmpty,
        "the garbage table survived the failed serve")
    } finally graft.lake.IndexTables.drop(spark, "band", p)
  }

  // ---- embedding admission index -----------------------------------

  test("admission index: persist + admit + append ≡ full rebuild with the SAME hash family; second admission equal either way") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    def normed(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("embedding"),
        expr("sqrt(graft_dot(embedding, embedding))").as("nrm"))
    val dir = java.nio.file.Files.createTempDirectory("inc_adm")
    val p = s"$dir/corpus.parquet"
    val e = spark.read.parquet(s"$sf/embeddings.parquet").localCheckpoint()
    val n = e.count()
    e.filter(col("vec_id") < 3L * n / 5L).write.parquet(p)
    try {
      val corpus = normed(spark.read.parquet(p))
      // familyN is the BUILD-time calibration — fixed for the table's
      // whole life, shared by every later prober and by the rebuild
      // comparator (the embeddingBucketIndex contract)
      val familyN = corpus.count()
      Similarity.persistAdmissionIndexFor(spark, p, corpus, familyN,
        buckets = 4)
      val prevSig = Similarity.admissionIndexStamp(spark, p).get

      val inc1 = normed(e.filter(col("vec_id") >= 3L * n / 5L &&
        col("vec_id") < 4L * n / 5L))
      val inc2 = normed(e.filter(col("vec_id") >= 4L * n / 5L))
      val served = Similarity.servedAdmissionIndex(spark, p).get
      // admitEmbeddingIncrement returns admitted IDS; rejoin the
      // increment's vectors for the corpus append + index extension
      val admitted = inc1.join(
        Similarity.admitEmbeddingIncrement(corpus, inc1,
          familyN = familyN, corpusIndex = Some(served)),
        Seq("vec_id"), "left_semi").localCheckpoint()
      assert(admitted.count() > 0, "fixture admitted nothing")

      admitted.select("vec_id", "embedding").write.mode("append").parquet(p)
      Similarity.appendAdmissionIndex(spark, p, admitted, familyN, prevSig)

      val grown = normed(spark.read.parquet(p))
      val appended = Similarity.servedAdmissionIndex(spark, p).get
      assert(rowSet(appended.select("vec_id", "tbl", "bk")) ==
        rowSet(Similarity.embeddingBucketIndex(grown, familyN)
          .select("vec_id", "tbl", "bk")),
        "appended admission table != full rebuild under the same family")

      val viaAppended = rowSet(Similarity.admitEmbeddingIncrement(grown,
        inc2, familyN = familyN, corpusIndex = Some(appended))
        .select("vec_id"))
      val viaRebuild = rowSet(Similarity.admitEmbeddingIncrement(grown,
        inc2, familyN = familyN,
        corpusIndex = Some(Similarity.embeddingBucketIndex(grown, familyN)))
        .select("vec_id"))
      assert(viaAppended == viaRebuild,
        "admission off the appended index diverged from a rebuild")
    } finally graft.lake.IndexTables.drop(spark, "adm", p)
  }

  test("compact: multi-file buckets from appends collapse back to one file per bucket; rows, stamp, and serving unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("inc_compact")
    val p = s"$dir/corpus.parquet"
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    docs.filter(col("doc_id") < n / 2).write.parquet(p)
    try {
      Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p), buckets = 4)
      val prevSig = Dedup.bandIndexStamp(spark, p).get
      val inc = docs.filter(col("doc_id") >= n / 2).localCheckpoint()
      inc.write.mode("append").parquet(p)
      Dedup.appendBandIndex(spark, p, inc, prevSig)

      val before = Dedup.servedBandIndex(spark, p).get
      val rowsBefore = rowSet(before)
      val filesBefore = before.select(input_file_name()).distinct().count()
      assert(filesBefore > 4,
        s"append did not add per-bucket files (got $filesBefore)")
      val stamp = Dedup.bandIndexStamp(spark, p).get

      graft.lake.IndexTables.compact(spark, "band", p)
      val after = Dedup.servedBandIndex(spark, p).get
      assert(rowSet(after) == rowsBefore, "compaction changed the rows")
      assert(after.select(input_file_name()).distinct().count() == 4,
        "compaction did not land one file per bucket")
      assert(Dedup.bandIndexStamp(spark, p).contains(stamp),
        "compaction moved the stamp despite an unchanged corpus")
    } finally graft.lake.IndexTables.drop(spark, "band", p)
  }

  test("auto-maintain: append fires compaction past the file-debt threshold; serving continuous; rows ≡ rebuild throughout") {
    val dir = java.nio.file.Files.createTempDirectory("inc_maintain")
    val p = s"$dir/corpus.parquet"
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    // base = slots 10..29; appends land slots 0..9 one at a time —
    // with buckets = 4 and the default threshold 8 files/bucket, the
    // debt crosses the line inside the loop and appendIncrement's
    // auto-maintain must pay it without anyone scheduling it
    val slot = pmod(col("doc_id"), lit(30))
    docs.filter(slot >= 10).write.parquet(p)
    try {
      Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p), buckets = 4)
      var maxFpb = 0.0
      var compacted = false
      (0 until 10).foreach { i =>
        val sig = Dedup.bandIndexStamp(spark, p).get
        val inc = docs.filter(slot === i).localCheckpoint()
        inc.write.mode("append").parquet(p)
        val before =
          graft.lake.IndexTables.filesPerBucket(spark, "band", p).get
        Dedup.appendBandIndex(spark, p, inc, sig)
        val after =
          graft.lake.IndexTables.filesPerBucket(spark, "band", p).get
        if (after < before) compacted = true
        maxFpb = math.max(maxFpb, after)
        // serving is continuous across the trigger: the table stays
        // fresh and probeable right after every append
        assert(Dedup.servedBandIndex(spark, p).isDefined,
          s"table stopped serving after append $i")
      }
      assert(compacted,
        "the debt never triggered a compaction across 10 appends")
      assert(maxFpb <= graft.lake.IndexTables.CompactionFilesPerBucket + 1,
        f"file debt $maxFpb%.1f outran the threshold — trigger too lazy")
      // rows equal a from-scratch rebuild on the grown corpus
      assert(rowSet(Dedup.servedBandIndex(spark, p).get) ==
        rowSet(Dedup.bandIndex(spark.read.parquet(p))),
        "maintained table != rebuild after the append+compact cycle")
      // the explicit entry point: idle above threshold, fires below
      assert(!graft.lake.IndexTables.maintain(spark, "band", p, 1e9),
        "maintain compacted despite no debt")
      assert(graft.lake.IndexTables.maintain(spark, "band", p, 0.0),
        "maintain ignored a sub-threshold override")
      assert(graft.lake.IndexTables.filesPerBucket(spark, "band", p)
        .contains(1.0), "explicit maintain did not land 1 file/bucket")
    } finally graft.lake.IndexTables.drop(spark, "band", p)
  }

  test("deleteKeys: retraction ≡ full rebuild on corpus ∖ keys; derivation never re-runs; wrong prevSig throws") {
    val dir = java.nio.file.Files.createTempDirectory("inc_delete")
    val p = s"$dir/corpus.parquet"
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    docs.write.parquet(p)
    try {
      Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p), buckets = 4)
      val prevSig = Dedup.bandIndexStamp(spark, p).get

      // the takedown: every 7th doc leaves the corpus (dir rewritten),
      // then the index retracts exactly those keys
      val victims = docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id").localCheckpoint()
      val survivors = docs.filter(col("doc_id") % 7 =!= 0).localCheckpoint()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(p))
      survivors.write.parquet(p)
      graft.lake.IndexTables.deleteKeys(spark, "band", p, "doc_id",
        victims, prevSig)

      // fresh-stamped and equal to a from-scratch rebuild on survivors
      assert(Dedup.bandIndexStamp(spark, p)
        .contains(graft.lake.SessionMemo.signature(p)),
        "retraction did not re-stamp to the post-deletion corpus")
      val served = Dedup.servedBandIndex(spark, p).get
      assert(rowSet(served) == rowSet(Dedup.bandIndex(survivors)),
        "retracted band table != full rebuild on corpus ∖ keys")

      // stale-handle guard, same as append's
      intercept[IllegalStateException] {
        graft.lake.IndexTables.deleteKeys(spark, "band", p, "doc_id",
          victims, prevSig)
      }
    } finally graft.lake.IndexTables.drop(spark, "band", p)
  }

  // ---- ANN float index ---------------------------------------------

  test("ANN index: append ≡ rebuild under an unchanged family; served and cold s2 bit-identical off the appended table") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val dir = java.nio.file.Files.createTempDirectory("inc_annf").toString
    val p = s"$dir/embeddings.parquet"
    val e = spark.read.parquet(s"$sf/embeddings.parquet").localCheckpoint()
    val n = e.count()
    e.filter(col("vec_id") < 4L * n / 5L).write.parquet(p)
    try {
      Similarity.persistAnnIndex(spark, dir, buckets = 4)
      val prevSig = Similarity.annIndexStamp(spark, dir).get
      val admitted = e.filter(col("vec_id") >= 4L * n / 5L).localCheckpoint()
      // the increment lands in the corpus (full schema), then appends
      admitted.write.mode("append").parquet(p)
      Similarity.appendAnnIndex(spark, dir, admitted, prevSig)

      // appended table == a from-scratch index over the grown corpus
      // (same family: 400 -> 500 vectors is far below any ladder step)
      val served = graft.lake.IndexTables.serve(spark, "annf", p).get
      val grown = spark.read.parquet(p).select("vec_id", "embedding")
      val expect = Similarity.embeddingBucketIndex(
        Similarity.withNorm(grown), familyN = n)
      assert(rowSet(served.select("vec_id", "tbl", "bk")) ==
        rowSet(expect.select("vec_id", "tbl", "bk")),
        "appended ANN table != full rebuild bucket rows")

      // end to end: s2 off the appended served table equals s2 cold
      // (table dropped, session caches evicted) — bit-identical
      val s2Served = Similarity.s2AnnLsh(spark.newSession(), dir)
        .collect().map(_.toString).toSeq
      graft.lake.IndexTables.drop(spark, "annf", p)
      val s2Cold = Similarity.s2AnnLsh(spark.newSession(), dir)
        .collect().map(_.toString).toSeq
      assert(s2Served == s2Cold,
        "s2 diverged between the appended served table and a cold build")
    } finally graft.lake.IndexTables.drop(spark, "annf", p)
  }

  test("recall across maintenance: N nightly appends + a ladder-step rebuild end row-identical to a fresh build — index quality preserved across a corpus doubling (r14 stretch #9)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val dir = java.nio.file.Files.createTempDirectory("ann_maint").toString
    val p = s"$dir/embeddings.parquet"
    // 2000 source vectors + offset clones = enough to cross the n=4000
    // ladder step (k 1 -> 2) from an 1800-vector base in 500-row nightlies
    val e0 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val all = e0.unionByName(e0.select((col("vec_id") + 2000L).as("vec_id"),
      col("embedding"))).localCheckpoint()
    all.filter(col("vec_id") < 1800L).write.parquet(p)
    try {
      Similarity.persistAnnIndex(spark, dir, buckets = 4)
      // five nightly increments: 1800 -> 4300, crossing 4000 mid-way —
      // the append refuses at the step and nightly pays the re-persist
      (0 until 5).foreach { i =>
        val lo = 1800L + i * 500L
        val delta = all.filter(col("vec_id") >= lo &&
          col("vec_id") < lo + 500L).localCheckpoint()
        val report = graft.lake.Maintenance.nightly(spark, dir,
          newEmbeddings = Some(delta))
        assert(report.maintained("ann"), s"ann skipped at increment $i")
      }
      // the maintained table ≡ a fresh full build on the final corpus —
      // recall of ANY probe set is therefore preserved exactly
      val maintained = rowSet(graft.lake.IndexTables.serve(spark, "annf", p)
        .get.select("vec_id", "tbl", "bk"))
      graft.lake.IndexTables.drop(spark, "annf", p)
      Similarity.persistAnnIndex(spark, dir, buckets = 4)
      val fresh = rowSet(graft.lake.IndexTables.serve(spark, "annf", p)
        .get.select("vec_id", "tbl", "bk"))
      assert(maintained == fresh,
        "maintained ANN table != fresh build after appends + ladder rebuild")
      // and the serving index genuinely finds neighbors on this tier
      val recall = Similarity.s11RecallReport(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(recall("lsh") >= 5000L,
        s"post-maintenance lsh recall degenerate: $recall")
    } finally graft.lake.IndexTables.drop(spark, "annf", p)
  }

  test("ANN index: a hash-family STEP refuses the append (silent recall loss becomes an explicit rebuild)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val dir = java.nio.file.Files.createTempDirectory("inc_annf_step").toString
    val p = s"$dir/embeddings.parquet"
    // 3900 -> 4100 vectors crosses k = n/BaseN = 2: bitsFor steps 4 -> 5,
    // so live-count probes would hash into buckets the appended rows
    // never populated — the guard must throw, not append
    def synth(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("vec_id"),
        expr("cast(transform(sequence(0, 63)," +
          " j -> pmod(id * 31 + j, 97) / 97.0) as array<float>)")
          .as("embedding"),
        lit(0).cast("int").as("label"))
    synth(0L, 3900L).write.parquet(p)
    try {
      Similarity.persistAnnIndex(spark, dir, buckets = 4)
      val prevSig = Similarity.annIndexStamp(spark, dir).get
      val admitted = synth(3900L, 4100L).localCheckpoint()
      admitted.write.mode("append").parquet(p)
      intercept[IllegalStateException] {
        Similarity.appendAnnIndex(spark, dir, admitted, prevSig)
      }
    } finally graft.lake.IndexTables.drop(spark, "annf", p)
  }

  // ---- graph co-order adjacency ------------------------------------

  test("adjacency: append delta orders + merge-on-read ≡ rebuild on the full facts; downstream queries bit-identical; merge is exchange-free on the bucket layout") {
    val dir = java.nio.file.Files.createTempDirectory("inc_adj")
    val d = dir.toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet").localCheckpoint()
    // whole orders are the increment grain (co-order pairs are
    // order-local): split by order key, not by row
    val baseLi = li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val deltaLi = li.filter(pmod(col("l_orderkey"), lit(5)) === 0)
    baseLi.write.parquet(s"$d/lineitem.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "orders.parquet"),
      dir.resolve("orders.parquet"))
    try {
      Graph.persistAdjacency(spark, d, buckets = 4)
      val prevSig = Graph.adjacencyStamp(spark, d).get

      // the new orders land, then the delta appends
      deltaLi.write.mode("append").parquet(s"$d/lineitem.parquet")
      Graph.appendAdjacencyIncrement(spark, d, deltaLi, prevSig)

      // still SERVING (stamp == grown tier), and the merged relation
      // equals the from-scratch adjacency over the full facts
      assert(Graph.adjacencyStamp(spark, d)
        .contains(graft.lake.SessionMemo.signature(d)),
        "append did not re-stamp to the grown tier")
      val merged = Graph.coAdj(spark, d)
      val fullLi = spark.read.parquet(s"$d/lineitem.parquet")
      assert(rowSet(merged) == rowSet(Graph.coOrderWeightedFrom(fullLi)),
        "merged appended adjacency != rebuild on the full fact set")

      // the merge-aggregate rides the bucket layout: zero exchanges
      // from scan to merged relation (the coAdj docstring's claim)
      val prevT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        assert(countShuffles(merged) == 0,
          s"merge-on-read exchanges over the bucketed scan")
      } finally prevT match {
        case Some(x) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", x)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }

      // downstream fixed points land identically served-appended vs a
      // cold rebuild (g3 exercises the iterative consumer; g2 the
      // orientation consumer)
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq
      val servedG3 = rows(Graph.g3BfsDistance(spark, d))
      val servedG2 = rows(Graph.g2Triangles(spark, d))
      Graph.dropAdjacency(spark, d)
      assert(rows(Graph.g3BfsDistance(spark, d)) == servedG3,
        "g3 diverged between appended-served and cold rebuild")
      assert(rows(Graph.g2Triangles(spark, d)) == servedG2,
        "g2 diverged between appended-served and cold rebuild")
    } finally Graph.dropAdjacency(spark, d)
  }

  test("adjacency retraction: negative-delta append ≡ rebuild on corpus ∖ orders; fully-retracted pairs vanish; wrong prevSig throws") {
    val dir = java.nio.file.Files.createTempDirectory("inc_adj_retract")
    val d = dir.toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet").localCheckpoint()
    val keepLi = li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val victimLi = li.filter(pmod(col("l_orderkey"), lit(5)) === 0)
      .localCheckpoint()
    li.write.parquet(s"$d/lineitem.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "orders.parquet"),
      dir.resolve("orders.parquet"))
    try {
      Graph.persistAdjacency(spark, d, buckets = 4)
      val prevSig = Graph.adjacencyStamp(spark, d).get

      // the takedown: victims leave the corpus, the negated delta lands
      keepLi.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      Graph.retractAdjacencyOrders(spark, d, victimLi, prevSig)

      assert(Graph.adjacencyStamp(spark, d)
        .contains(graft.lake.SessionMemo.signature(d)),
        "retraction did not re-stamp to the shrunk tier")
      val merged = Graph.coAdj(spark, d)
      assert(rowSet(merged) == rowSet(Graph.coOrderWeightedFrom(keepLi)),
        "retracted adjacency != rebuild on corpus ∖ orders")
      // a pair co-ordered ONLY by victim orders must be gone, not a
      // zero-weight tombstone
      assert(merged.filter(col("w") <= 0).count() == 0,
        "zero/negative-weight tombstones leaked into the served relation")

      // downstream identical served-retracted vs cold rebuild
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq
      val servedG3 = rows(Graph.g3BfsDistance(spark, d))
      Graph.dropAdjacency(spark, d)
      assert(rows(Graph.g3BfsDistance(spark, d)) == servedG3,
        "g3 diverged between retracted-served and cold rebuild")

      // foreign-rewrite guard
      Graph.persistAdjacency(spark, d, buckets = 4)
      intercept[IllegalStateException] {
        Graph.retractAdjacencyOrders(spark, d, victimLi, prevSig)
      }
    } finally Graph.dropAdjacency(spark, d)
  }

  test("g1 edge table: append delta orders + merge-on-read ≡ rebuild; PageRank bit-identical served-appended vs cold; wrong prevSig throws") {
    val dir = java.nio.file.Files.createTempDirectory("inc_g1")
    val d = dir.toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet").localCheckpoint()
    val ord = spark.read.parquet(s"$sf/orders.parquet").localCheckpoint()
    val baseLi = li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val deltaLi = li.filter(pmod(col("l_orderkey"), lit(5)) === 0)
    val deltaOrd = ord.filter(pmod(col("o_orderkey"), lit(5)) === 0)
    baseLi.write.parquet(s"$d/lineitem.parquet")
    ord.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .write.parquet(s"$d/orders.parquet")
    try {
      Graph.persistAdjacency(spark, d, buckets = 4)
      val prevSig = Graph.g1Stamp(spark, d).get

      deltaLi.write.mode("append").parquet(s"$d/lineitem.parquet")
      deltaOrd.write.mode("append").parquet(s"$d/orders.parquet")
      Graph.appendG1Increment(spark, d, deltaLi, deltaOrd, prevSig)
      // the co-adjacency table went stale (tier changed) — maintain it
      // too so the serving set is coherent for the bit-identity checks
      Graph.appendAdjacencyIncrement(spark, d, deltaLi,
        Graph.adjacencyStamp(spark, d).get)

      assert(Graph.g1Stamp(spark, d)
        .contains(graft.lake.SessionMemo.signature(d)),
        "g1 append did not re-stamp to the grown tier")
      // served merge-on-read (per-key sum + recomputed out-weights)
      // equals the from-scratch denormalized relation on the full facts
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq
      val servedRank = rows(Graph.g1Pagerank(spark, d))
      Graph.dropAdjacency(spark, d)
      assert(rows(Graph.g1Pagerank(spark, d)) == servedRank,
        "g1 ranks diverged between appended-served and cold rebuild")

      // foreign-rewrite guard
      Graph.persistAdjacency(spark, d, buckets = 4)
      intercept[IllegalStateException] {
        Graph.appendG1Increment(spark, d, deltaLi, deltaOrd, prevSig)
      }
    } finally Graph.dropAdjacency(spark, d)
  }

  test("g1 legacy denormalized layout: append detects the wout schema and re-persists instead of aborting mid-nightly (ADVICE r14)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_g1_legacy")
    val d = dir.toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet").localCheckpoint()
    val ord = spark.read.parquet(s"$sf/orders.parquet").localCheckpoint()
    val baseLi = li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val deltaLi = li.filter(pmod(col("l_orderkey"), lit(5)) === 0)
    val deltaOrd = ord.filter(pmod(col("o_orderkey"), lit(5)) === 0)
    baseLi.write.parquet(s"$d/lineitem.parquet")
    ord.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .write.parquet(s"$d/orders.parquet")
    try {
      // a pre-r14 table: the denormalized (src, dst, w, wout) layout
      // persisted under the SAME prefix with a matching corpus stamp
      graft.lake.IndexTables.persist(spark,
        Graph.edgesWithOut(spark, d), Graph.G1Prefix, d, Seq("src"), 4)
      val prevSig = Graph.g1Stamp(spark, d).get

      deltaLi.write.mode("append").parquet(s"$d/lineitem.parquet")
      deltaOrd.write.mode("append").parquet(s"$d/orders.parquet")
      // must NOT throw AnalysisException on the missing wout column —
      // the legacy layout is detected and fully re-persisted instead
      Graph.appendG1Increment(spark, d, deltaLi, deltaOrd, prevSig)

      assert(Graph.g1Stamp(spark, d)
        .contains(graft.lake.SessionMemo.signature(d)),
        "legacy fallback did not re-stamp to the grown tier")
      assert(!graft.lake.IndexTables.schemaOf(spark, Graph.G1Prefix, d)
        .get.fieldNames.contains("wout"),
        "legacy fallback kept the denormalized layout")
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq
      val servedRank = rows(Graph.g1Pagerank(spark, d))
      Graph.dropAdjacency(spark, d)
      assert(rows(Graph.g1Pagerank(spark, d)) == servedRank,
        "g1 ranks diverged between legacy-fallback-served and cold rebuild")
    } finally Graph.dropAdjacency(spark, d)
  }

  test("warm-start LPA: bounded re-propagation after a delta ≡ from-scratch on the grown graph; g8 identical; stale stamp throws") {
    val dir = java.nio.file.Files.createTempDirectory("inc_lpa")
    val d = dir.toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet").localCheckpoint()
    val baseLi = li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val deltaLi = li.filter(pmod(col("l_orderkey"), lit(5)) === 0)
      .localCheckpoint()
    baseLi.write.parquet(s"$d/lineitem.parquet")
    try {
      // memoize the pre-delta propagation (full history) + its stamp
      Graph.lpaLabels(spark, d)
      val prevSig = Graph.lpaStamp(spark, d).get

      // the delta lands; warm re-propagation stitches the frontier ball
      deltaLi.write.mode("append").parquet(s"$d/lineitem.parquet")
      val warm = Graph.warmLpaAfterAppend(spark, d, deltaLi, prevSig)
      val full = Graph.labelPropagation(
        Graph.coOrderWeightedFrom(spark.read.parquet(s"$d/lineitem.parquet"))
          .filter(col("w") >= Graph.MinCoOrders),
        5)
      assert(rowSet(warm) == rowSet(full),
        "warm-start labels != from-scratch propagation on the grown graph")

      // the refreshed memo now serves downstream consumers: g8 off the
      // warm cache equals g8 off a cleared cache (full recompute)
      val g8Warm = rowSet(Graph.g8Communities(spark, d))
      // force a fresh propagation by touching the tier signature
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(d, "lineitem.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 7000))
      assert(rowSet(Graph.g8Communities(spark, d)) == g8Warm,
        "g8 off the warm memo diverged from a fresh propagation")

      // stale handle: the memo moved on, the old stamp must throw
      intercept[IllegalStateException] {
        Graph.warmLpaAfterAppend(spark, d, deltaLi, prevSig)
      }
    } finally Graph.dropAdjacency(spark, d)
  }

  test("warm-start LPA on a genuine-locality graph: the stitching path (no saturation bail) ≡ from-scratch") {
    // The corpus graph is small-world, so the saturation guard usually
    // bails to the plain propagation there — which makes equivalence
    // trivially true without exercising the frontier-ball stitching.
    // A PATH graph has real distance structure: a delta at one end
    // touches a ball of ≤ 2·rounds+1 of the 400 nodes (≪ half), so
    // this drives the bounded re-propagation itself.
    import spark.implicits._
    def pathAdj(n: Long): DataFrame = {
      val half = (0L until n - 1).map(i => (i, i + 1, 1L + (i % 3)))
      (half ++ half.map(e => (e._2, e._1, e._3))).toDF("u", "v", "w")
    }
    val oldAdj = pathAdj(398).localCheckpoint()
    val grown = pathAdj(400).localCheckpoint() // two nodes appended
    val prior = Graph.labelPropagationStates(oldAdj, 5)
    val touched = Seq(397L, 398L, 399L).toDF("node")
    val warm = Graph.warmLpaStates(grown, prior, touched)
    val full = Graph.labelPropagationStates(grown, 5)
    warm.zip(full).zipWithIndex.foreach { case ((w, f), i) =>
      assert(rowSet(w) == rowSet(f),
        s"warm state $i != from-scratch state $i on the path graph")
    }
  }
}
