package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.Maintenance
import graft.queries.Graph
import graft.text.{Dedup, Winnowing}

/** The nightly-increment orchestrator: one call lands a delta and
  * maintains EVERY serving artifact — stamps read before the delta
  * lands, per-family appends after, empty-increment re-stamps for
  * artifacts whose inputs didn't change but whose tier signature
  * moved. Pins: every artifact fresh AND equal to a from-scratch
  * rebuild after the run; the docs-only posture; the order-grain
  * argument guard.
  */
class MaintenanceSpec extends AnyFunSuite {
  import TestSpark._

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def freshTier(): (String, DataFrame, DataFrame, DataFrame,
      DataFrame, DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("maint_tier")
    val d = dir.toString
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val li = spark.read.parquet(s"$sf/lineitem.parquet").localCheckpoint()
    val ord = spark.read.parquet(s"$sf/orders.parquet").localCheckpoint()
    val nDoc = docs.count()
    val baseDocs = docs.filter(col("doc_id") < 4L * nDoc / 5L)
    val dDocs = docs.filter(col("doc_id") >= 4L * nDoc / 5L).localCheckpoint()
    val baseLi = li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val dLi = li.filter(pmod(col("l_orderkey"), lit(5)) === 0).localCheckpoint()
    val baseOrd = ord.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
    val dOrd = ord.filter(pmod(col("o_orderkey"), lit(5)) === 0).localCheckpoint()
    baseDocs.write.parquet(s"$d/documents.parquet")
    baseLi.write.parquet(s"$d/lineitem.parquet")
    baseOrd.write.parquet(s"$d/orders.parquet")
    // the warehouse states' inputs: the customer dimension (static) and
    // the events base at the NORMALIZED µs grain (the delta must match
    // the tier's ts encoding — nightly's documented events contract)
    spark.read.parquet(s"$sf/customer.parquet")
      .write.parquet(s"$d/customer.parquet")
    eventsBase().write.parquet(s"$d/events.parquet")
    (d, baseDocs, dDocs, baseLi, dLi, baseOrd, dOrd)
  }

  private def eventsAll(): DataFrame =
    graft.lake.Tables.events(spark, sf).localCheckpoint()
  private def eventsBase(): DataFrame =
    eventsAll().filter(pmod(col("user_id"), lit(5)) =!= 0)
  private def eventsDelta(): DataFrame =
    eventsAll().filter(pmod(col("user_id"), lit(5)) === 0).localCheckpoint()

  private def persistAll(d: String): Unit = {
    Dedup.persistBandIndexFor(spark, s"$d/documents.parquet",
      spark.read.parquet(s"$d/documents.parquet"), buckets = 4)
    Winnowing.persistFingerprintIndex(spark, d, buckets = 4)
    graft.text.SubstringDedup.persistOccurrenceIndex(spark, d, buckets = 4)
    graft.text.Dsir.persistRatioTable(spark, d, buckets = 4)
    graft.mm.Multimodal.persistPhashIndex(spark, d, buckets = 4)
    graft.text.TextAnalysis.persistBpe(spark, d)
    graft.text.TextAnalysis.persistBpeStream(spark, d, buckets = 4)
    graft.ops.Warehouse.persistWarehouseState(spark, d, buckets = 4)
    Graph.persistAdjacency(spark, d, buckets = 4)
    Graph.lpaLabels(spark, d) // memoize the propagation history
  }

  private def dropAll(d: String): Unit = {
    graft.lake.IndexTables.drop(spark, "band", s"$d/documents.parquet")
    Winnowing.dropFingerprintIndex(spark, d)
    graft.text.SubstringDedup.dropOccurrenceIndex(spark, d)
    graft.text.Dsir.dropRatioTable(spark, d)
    graft.mm.Multimodal.dropPhashIndex(spark, d)
    graft.text.TextAnalysis.dropBpe(spark, d)
    graft.text.TextAnalysis.dropBpeStream(spark, d)
    graft.ops.Warehouse.dropWarehouseState(spark, d)
    Graph.dropAdjacency(spark, d)
  }

  test("nightly with docs + facts + events: every artifact maintained, fresh, and ≡ a from-scratch rebuild") {
    val (d, _, dDocs, _, dLi, _, dOrd) = freshTier()
    try {
      persistAll(d)
      val report = Maintenance.nightly(spark, d,
        newDocs = Some(dDocs), newLineitem = Some(dLi),
        newOrders = Some(dOrd), newEvents = Some(eventsDelta()))
      // intent_recovery is false on a clean tier (nothing to repair) —
      // its positive case has its own test below
      assert((report.maintained - "ann" - "intent_recovery")
        .values.forall(identity),
        s"artifacts skipped despite serving: ${report.maintained}")
      assert(!report.maintained("intent_recovery"),
        "clean tier reported a recovered intent")
      assert(!report.maintained("ann"),
        "ann reported maintained with no ANN index serving and no delta")

      // freshness: every stamp moved to the post-delta signature
      val docSig = graft.lake.SessionMemo.signature(
        s"$d/documents.parquet")
      val tierSig = graft.lake.SessionMemo.signature(d)
      assert(Dedup.bandIndexStamp(spark, s"$d/documents.parquet")
        .contains(docSig), "band index stale after nightly")
      assert(Winnowing.fingerprintStamp(spark, d).contains(docSig),
        "fingerprint index stale after nightly")
      assert(graft.text.SubstringDedup.occurrenceStamp(spark, d)
        .contains(docSig), "ngram-occurrence index stale after nightly")
      assert(graft.text.TextAnalysis.bpeStamp(spark, d).contains(docSig),
        "bpe artifact stale after nightly")
      assert(graft.text.Dsir.ratioStamp(spark, d).contains(docSig),
        "dsir counts table stale after nightly")
      assert(graft.text.TextAnalysis.bpeStreamStamp(spark, d)
        .contains(docSig), "bpe stream table stale after nightly")
      assert(Graph.adjacencyStamp(spark, d).contains(tierSig),
        "adjacency stale after nightly")
      assert(Graph.g1Stamp(spark, d).contains(tierSig),
        "g1 edges stale after nightly")
      assert(Graph.lpaStamp(spark, d).contains(tierSig),
        "LPA memo stale after nightly")

      // equality with from-scratch rebuilds on the grown corpus
      val fullDocs = spark.read.parquet(s"$d/documents.parquet")
      val fullLi = spark.read.parquet(s"$d/lineitem.parquet")
      assert(rowSet(Dedup.servedBandIndex(spark,
          s"$d/documents.parquet").get) ==
        rowSet(Dedup.bandIndex(fullDocs)),
        "band table != rebuild after nightly")
      // ngram-occurrence index: delta docs' rows appended only, yet
      // equals a full re-split of the grown corpus (per-doc locality);
      // binary ngh compares by identity in Row.toString — hex it
      def ngoRows(df: DataFrame) = rowSet(
        df.select(col("doc_id"), col("s"), hex(col("ngh"))))
      assert(ngoRows(graft.text.SubstringDedup.servedOccurrences(spark, d)
          .get) ==
        ngoRows(graft.text.SubstringDedup.occurrencesOf(fullDocs)),
        "ngo table != rebuild after nightly")
      // bpe stream: the "always" policy retrained, so the leg
      // re-persisted — served rows must equal an inline re-encode of
      // the grown corpus under the retrained merges
      assert(rowSet(graft.text.TextAnalysis.servedBpeStream(spark, d).get)
        == rowSet(graft.text.TextAnalysis.bpeTokenText(spark, d)),
        "bpe stream table != re-encode after nightly")
      // dsir counts: the delta's per-feature counts appended as rows,
      // merge-on-read must equal a from-scratch aggregate of the grown
      // corpus (count additivity)
      assert(rowSet(graft.text.Dsir.servedCounts(spark, d).get) ==
        rowSet({
          graft.text.Dsir.dropRatioTable(spark, d)
          graft.text.Dsir.persistRatioTable(spark, d, buckets = 4)
          val r = graft.text.Dsir.servedCounts(spark, d).get
          r
        }), "dsir counts != rebuild after nightly")
      // warehouse states (r14 verdict #6): whagg and whjoin are EXACT
      // through the append path; the sketch states pass their l4/l5
      // gates computed from the SERVED merged state vs exact recompute
      import graft.ops.Warehouse
      val fullOrd = spark.read.parquet(s"$d/orders.parquet")
      assert(rowSet(Warehouse.servedAggState(spark, d).get) ==
        rowSet(Warehouse.aggStateRelation(fullOrd)),
        "whagg merged state != full recompute after nightly")
      assert(rowSet(Warehouse.servedJoinView(spark, d).get) ==
        rowSet(Warehouse.joinViewRelation(fullOrd,
          spark.read.parquet(s"$d/customer.parquet"))),
        "whjoin view != full join after nightly")
      val fullEv = graft.lake.Tables.events(spark, d)
      val hllGate = Warehouse.servedHllState(spark, d).get
        .join(fullEv.select(
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
              .as("day"), col("user_id"))
          .distinct().groupBy("day").agg(count(lit(1)).as("exact")), "day")
        .filter(abs(hll_sketch_estimate(col("sk")) - col("exact")) /
          col("exact") > 0.05)
      assert(hllGate.isEmpty,
        "whhll merged-sketch estimate off >5% after nightly append")
      // the l5 rank gate: median estimate's exact rank within 5% + 1/n
      val kllBad = Warehouse.servedKllState(spark, d).get
        .select(col("month"),
          expr("kll_sketch_get_quantile_bigint(sk, 0.5)").as("est"))
        .join(fullOrd.select(
            date_format(col("o_orderdate"), "yyyy-MM").as("month"),
            expr("CAST(round(o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT)")
              .as("cents")), "month")
        .groupBy("month")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("nle"))
        .filter(abs(col("nle") * 10000L / col("n") - 5000L) >
          lit(500L) + lit(10000L) / col("n"))
      assert(kllBad.isEmpty,
        "whkll merged-sketch median rank off after nightly append")

      // the phash index appended the delta docs' hashes only, yet
      // equals a full re-decode of the grown corpus (per-media locality)
      assert(rowSet(graft.lake.IndexTables.serve(spark, "mmph",
          s"$d/documents.parquet").get) ==
        rowSet({
          import spark.implicits._
          graft.mm.Multimodal.perceptualHashes(
            graft.mm.Multimodal.mediaFrom(fullDocs)
              .select(col("media_id"), col("payload"))
              .as[graft.mm.Multimodal.Media])
        }),
        "phash table != full re-decode after nightly")
      assert(rowSet(Graph.coAdj(spark, d)) ==
        rowSet(Graph.coOrderWeightedFrom(fullLi)),
        "merged adjacency != rebuild after nightly")
      assert(rowSet(Graph.lpaLabels(spark, d)) ==
        rowSet(Graph.labelPropagation(
          Graph.coOrderWeightedFrom(fullLi)
            .filter(col("w") >= Graph.MinCoOrders), 5)),
        "warm LPA memo != from-scratch propagation after nightly")
      // end-to-end: a served query equals its cold rebuild
      val servedRank = Graph.g1Pagerank(spark, d).collect().map(_.toString)
      val servedT29 = Winnowing.queries("t29_winnowing")(spark, d)
        .collect().map(_.toString)
      val servedT40 = graft.text.SubstringDedup
        .queries("t40_dup_span_coverage")(spark, d)
        .collect().map(_.toString)
      dropAll(d)
      assert(Graph.g1Pagerank(spark, d).collect().map(_.toString)
        .sameElements(servedRank),
        "g1 served-after-nightly != cold rebuild")
      assert(Winnowing.queries("t29_winnowing")(spark, d)
        .collect().map(_.toString).sameElements(servedT29),
        "t29 served-after-nightly != cold rebuild")
      assert(graft.text.SubstringDedup
        .queries("t40_dup_span_coverage")(spark, d)
        .collect().map(_.toString).sameElements(servedT40),
        "t40 served-after-nightly != cold rebuild")
    } finally dropAll(d)
  }

  test("docs-only nightly: graph artifacts re-stamp via empty increments instead of stranding stale") {
    val (d, _, dDocs, _, _, _, _) = freshTier()
    try {
      persistAll(d)
      val adjBefore = rowSet(Graph.coAdj(spark, d))
      val report = Maintenance.nightly(spark, d, newDocs = Some(dDocs))
      assert(report.maintained("band") && report.maintained("fingerprints")
        && report.maintained("ngo") && report.maintained("dsir")
        && report.maintained("bpe_stream"))
      assert(report.maintained("coadj") && report.maintained("g1_edges") &&
        report.maintained("lpa"),
        "graph artifacts not re-stamped on a docs-only nightly")
      val tierSig = graft.lake.SessionMemo.signature(d)
      assert(Graph.adjacencyStamp(spark, d).contains(tierSig),
        "adjacency stranded stale — the docs landing moved the tier " +
          "signature and no re-stamp followed")
      // the served relation is bit-identical across the re-stamp
      // (inputs unchanged, zero rows landed)
      assert(rowSet(Graph.coAdj(spark, d)) == adjBefore,
        "an empty re-stamp changed the adjacency")
    } finally dropAll(d)
  }

  test("embeddings nightly: in-family delta appends; a ladder-step delta triggers the rebuild policy — both end fresh and ≡ cold") {
    import graft.sim.Similarity
    def tierWith(n: Long): (String, DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("maint_emb")
      val d = dir.toString
      val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select("vec_id", "embedding").localCheckpoint()
      // clones under offset ids when n exceeds the source's 2000 rows
      val big = e.unionByName(e.select((col("vec_id") + 2000L).as("vec_id"),
        col("embedding"))).localCheckpoint()
      (d, big.filter(col("vec_id") < n))
    }
    def run(baseN: Long, deltaN: Long): Unit = {
      val (d, all) = tierWith(baseN + deltaN)
      val base = all.filter(col("vec_id") < baseN)
      val delta = all.filter(col("vec_id") >= baseN).localCheckpoint()
      base.write.parquet(s"$d/embeddings.parquet")
      try {
        Similarity.persistAnnIndex(spark, d, buckets = 4)
        val report = Maintenance.nightly(spark, d,
          newEmbeddings = Some(delta))
        assert(report.maintained("ann"),
          s"ann skipped despite serving (base=$baseN)")
        assert(Similarity.annIndexStamp(spark, d).contains(
          graft.lake.SessionMemo.signature(s"$d/embeddings.parquet")),
          s"ann index stale after nightly (base=$baseN)")
        val served = rowSet(Similarity.s3EmbeddingNeardup(spark, d))
        graft.lake.IndexTables.drop(spark, "annf", s"$d/embeddings.parquet")
        assert(rowSet(Similarity.s3EmbeddingNeardup(spark, d)) == served,
          s"s3 served-after-nightly != cold rebuild (base=$baseN)")
      } finally graft.lake.IndexTables.drop(spark, "annf",
        s"$d/embeddings.parquet")
    }
    // in-family: 1500 + 300 stays at k=0 of the 2000-row ladder
    run(1500L, 300L)
    // ladder step: 3900 + 200 crosses n=4000 (k 1 -> 2, bits 4 -> 5) —
    // the append refuses internally and nightly pays the re-persist
    run(3900L, 200L)
  }

  test("embeddings-only nightly on a tier serving graph artifacts: coadj/g1/LPA re-stamp to the moved tier signature (ADVICE r14)") {
    import graft.sim.Similarity
    val (d, _, _, _, _, _, _) = freshTier()
    try {
      val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select("vec_id", "embedding").localCheckpoint()
      e.filter(col("vec_id") < 1500L).write.parquet(s"$d/embeddings.parquet")
      persistAll(d)
      Similarity.persistAnnIndex(spark, d, buckets = 4)
      val adjBefore = rowSet(Graph.coAdj(spark, d))
      val report = Maintenance.nightly(spark, d,
        newEmbeddings = Some(e.filter(col("vec_id") >= 1500L)))
      assert(report.maintained("ann"), "ann skipped despite serving")
      assert(report.maintained("coadj") && report.maintained("g1_edges") &&
        report.maintained("lpa"),
        "graph artifacts not re-stamped on an embeddings-only nightly — " +
          "the embeddings landing moved the tier signature they sign")
      val tierSig = graft.lake.SessionMemo.signature(d)
      assert(Graph.adjacencyStamp(spark, d).contains(tierSig),
        "adjacency stranded stale after embeddings-only nightly")
      assert(Graph.g1Stamp(spark, d).contains(tierSig),
        "g1 edges stranded stale after embeddings-only nightly")
      assert(Graph.lpaStamp(spark, d).contains(tierSig),
        "LPA memo stranded stale after embeddings-only nightly")
      assert(rowSet(Graph.coAdj(spark, d)) == adjBefore,
        "an empty re-stamp changed the adjacency")
    } finally {
      dropAll(d)
      graft.lake.IndexTables.drop(spark, "annf", s"$d/embeddings.parquet")
    }
  }

  test("a lines-without-orders delta is rejected (order-grain contract)") {
    val (d, _, _, _, dLi, _, _) = freshTier()
    try intercept[IllegalArgumentException] {
      Maintenance.nightly(spark, d, newLineitem = Some(dLi))
    } finally dropAll(d)
  }

  test("nightly maintains named span-screen side stores (r16 verdict #4 wiring)") {
    import spark.implicits._
    val (d, _, _, _, _, _, _) = freshTier()
    val flagged = java.nio.file.Files
      .createTempDirectory("maint_span").toString + "/flagged"
    try {
      // a store with partition debt past the threshold: 10 one-row
      // batch_id partitions, written the way the stream writes them
      (0 until 10).foreach { b =>
        Seq((100L + b, b, Array[Byte](b.toByte)))
          .toDF("doc_id", "s", "ngh")
          .withColumn("batch_id", lit(b.toLong))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(flagged + "_occ")
      }
      val before = spark.read.parquet(flagged + "_occ")
        .collect().map(_.toString).toSet
      val report = Maintenance.nightly(spark, d,
        spanScreenStores = Seq(flagged))
      assert(report.maintained("span_screen_stores"),
        s"compaction did not run: ${report.maintained}")
      // folded to [foldKey=8, newest=9]; rows preserved verbatim
      assert(graft.streaming.Streams.spanScreenStoreParts(spark, flagged)
        == Seq(8L, 9L))
      val after = spark.read.parquet(flagged + "_occ")
        .select("doc_id", "s", "ngh").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
        .toSet
      assert(before.nonEmpty && after.map(_._1) ==
        (0 until 10).map(100L + _).toSet,
        s"rows lost or invented by the fold: $after")
      // a second nightly over the now-compacted store is a no-op leg
      val again = Maintenance.nightly(spark, d,
        spanScreenStores = Seq(flagged))
      assert(!again.maintained("span_screen_stores"),
        "compaction re-ran with no partition debt")
      // and an un-named nightly's report has no span leg at all
      assert(!Maintenance.nightly(spark, d).maintained
        .contains("span_screen_stores"))
    } finally dropAll(d)
  }

  test("nightly maintains generic batch_id stores past the partition-debt threshold (r17 verdict stretch #8)") {
    import spark.implicits._
    val (d, _, _, _, _, _, _) = freshTier()
    val out = java.nio.file.Files
      .createTempDirectory("maint_bid").toString + "/admitted"
    try {
      (0 until 10).foreach { b =>
        Seq((200L + b, "en", s"doc $b"))
          .toDF("doc_id", "lang", "text")
          .withColumn("batch_id", lit(b.toLong))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(out)
      }
      val before = spark.read.parquet(out).drop("batch_id")
        .collect().map(_.toString).toSet
      val report = Maintenance.nightly(spark, d, batchIdStores = Seq(out))
      assert(report.maintained("batch_id_stores"),
        s"generic store compaction did not run: ${report.maintained}")
      assert(graft.streaming.Streams.batchIdStoreParts(spark, out)
        == Seq(8L, 9L))
      val after = spark.read.parquet(out).drop("batch_id")
        .collect().map(_.toString).toSet
      assert(after == before, "rows changed across the generic fold")
      assert(!Maintenance.nightly(spark, d, batchIdStores = Seq(out))
        .maintained("batch_id_stores"),
        "generic compaction re-ran with no partition debt")
      assert(!Maintenance.nightly(spark, d).maintained
        .contains("batch_id_stores"))
    } finally dropAll(d)
  }

  private class CrashFailpoint extends RuntimeException("simulated crash")

  test("nightly sweeps crashed commit intents before reading handles (r17 verdict #6)") {
    import spark.implicits._
    val (d, baseDocs, _, _, _, _, _) = freshTier()
    try {
      // a crashed INDEX swap: writer died between its intent write and
      // the metastore DROP/RENAME — staging fully built, intent live
      val docsPath = s"$d/documents.parquet"
      graft.text.Dedup.persistBandIndexFor(spark, docsPath,
        spark.read.parquet(docsPath), buckets = 4)
      val tok = graft.lake.IndexTables.commitToken(spark, "band", docsPath)
      intercept[CrashFailpoint] {
        graft.lake.IndexTables.commitPersistImpl(spark,
          graft.text.Dedup.bandIndex(spark.read.parquet(docsPath)),
          "band", docsPath, Seq("band", "bk"), 4, tok,
          () => throw new CrashFailpoint)
      }
      assert(graft.lake.IndexTables.readTableIntent(spark,
        graft.lake.IndexTables.tableName("band", docsPath)).nonEmpty)

      // a crashed FILESYSTEM store swap inside the tier dir
      val store = s"$d/side_store.parquet"
      graft.lake.Lake.upsertByKeyGuarded(spark,
        Seq((1L, "base")).toDF("k", "v"), store, "k")
      intercept[CrashFailpoint] {
        graft.lake.Lake.commitUpsertImpl(spark,
          Seq((2L, "crashed")).toDF("k", "v"), store, "k",
          graft.lake.Lake.readCommitStamp(spark, store),
          () => throw new CrashFailpoint)
      }
      assert(graft.lake.Lake.readIntent(spark, store).nonEmpty)

      // nightly's step-0 sweep replays both to completion
      val report = Maintenance.nightly(spark, d)
      assert(report.maintained("intent_recovery"),
        s"nightly did not recover the crashed commits: ${report.maintained}")
      assert(graft.lake.Lake.readIntent(spark, store).isEmpty,
        "store intent survived the nightly sweep")
      assert(graft.lake.IndexTables.readTableIntent(spark,
        graft.lake.IndexTables.tableName("band", docsPath)).isEmpty,
        "index intent survived the nightly sweep")
      assert(spark.read.parquet(store).count() == 2,
        "the crashed store commit was not replayed")
      assert(graft.lake.IndexTables.serve(spark, "band", docsPath).nonEmpty,
        "the band index no longer serves after recovery")
      // second nightly: nothing left to recover
      assert(!Maintenance.nightly(spark, d).maintained("intent_recovery"))
    } finally dropAll(d)
  }
}
