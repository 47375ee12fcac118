package graft.tools

import org.apache.spark.sql.functions._

/** Per-increment maintenance cost of the persisted index tables
  * (r12 verdict #2's measurement half): for each corpus tier, split
  * ~1% of the corpus off as "today's increment", persist the index on
  * the other ~99%, then measure
  *
  *   - `append_sec`   — extending the persisted table with just the
  *                      increment's derived rows + re-stamp
  *                      (`IndexTables.appendIncrement`), and
  *   - `rebuild_sec`  — the full re-persist on corpus ∪ increment the
  *                      old signature-invalidation posture forced,
  *
  * for the three maintained artifacts: the text band index, the
  * embedding admission index, and the co-order adjacency. The claim
  * under test: append cost tracks the INCREMENT size while rebuild
  * cost tracks the CORPUS — the gap must WIDEN with tier (at 100 TB
  * with daily 0.1% crawls the ratio is the nightly bill).
  * IncrementalIndexSpec pins that append ≡ rebuild in VALUE; this
  * records what the equivalence buys in time.
  *
  *   sbt "runMain graft.tools.IncrementBench /root/testdata/sf0.1 /tmp/graft_sf1"
  *
  * Output: one JSON line per run (commit as INDEX_INCREMENT_R*.json).
  */
object IncrementBench {

  /** Every leg splits its corpus into a temp directory; delete it when
    * the leg completes (ADVICE r15: the index TABLE was already
    * dropped, the temp parquet was not — repeated bench runs leaked
    * disk).
    */
  private def withTempDir[A](prefix: String)(
      body: java.nio.file.Path => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try body(tmp)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")
    val spark = graft.SparkEntry.localSession()
      .config("spark.sql.warehouse.dir", "/tmp/graft_increment_wh")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=/tmp/graft_increment_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorExpressions.ensureRegistered(spark)

    def time(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val rows = dirs.filter(d => new java.io.File(d).exists()).map { d =>
      // ---- band index (documents) ----------------------------------
      val bandJson = withTempDir("incb_band") { tmp =>
        val p = s"$tmp/corpus.parquet"
        val docs = graft.lake.Tables.documents(spark, d)
        docs.filter(pmod(col("doc_id"), lit(100)) =!= 0).write.parquet(p)
        val corpus = spark.read.parquet(p)
        val nCorpus = corpus.count()
        val persistSec = time(
          graft.text.Dedup.persistBandIndexFor(spark, p, corpus))
        val sig = graft.text.Dedup.bandIndexStamp(spark, p).get
        val inc = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
          .localCheckpoint()
        val nInc = inc.count()
        inc.write.mode("append").parquet(p)
        val appendSec = time(
          graft.text.Dedup.appendBandIndex(spark, p, inc, sig))
        // compact is timed HERE — immediately after the append, while
        // the buckets genuinely hold multiple files (ADVICE r13 #3: the
        // old ordering measured it after the rebuild leg had already
        // re-persisted one file per bucket, timing a no-op compaction)
        val compactSec = time(
          graft.lake.IndexTables.compact(spark, "band", p))
        val rebuildSec = time(graft.text.Dedup.persistBandIndexFor(
          spark, p, spark.read.parquet(p)))
        val sig2 = graft.text.Dedup.bandIndexStamp(spark, p).get
        val all = spark.read.parquet(p).localCheckpoint()
        val victims = all.filter(pmod(col("doc_id"), lit(100)) === 1)
          .select("doc_id").localCheckpoint()
        all.filter(pmod(col("doc_id"), lit(100)) =!= 1)
          .write.mode("overwrite").parquet(p)
        val deleteSec = time(graft.lake.IndexTables.deleteKeys(
          spark, "band", p, "doc_id", victims, sig2))
        graft.lake.IndexTables.drop(spark, "band", p)
        f""""band":{"corpus_rows":$nCorpus,"increment_rows":$nInc,"persist_sec":$persistSec%.3f,"append_sec":$appendSec%.3f,"rebuild_sec":$rebuildSec%.3f,"compact_sec":$compactSec%.3f,"delete_sec":$deleteSec%.3f}"""
      }

      // ---- multimodal phash index (documents-as-media) --------------
      // the decode kernel is the repo's most expensive per-row compute,
      // so this is the leg where append-vs-rebuild buys the most: the
      // rebuild re-decodes the corpus, the append decodes the increment
      val mmJson = withTempDir("incb_mm") { tmp =>
        val td = tmp.toString
        val docs = graft.lake.Tables.documents(spark, d)
        docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
          .write.parquet(s"$td/documents.parquet")
        val nCorpus = spark.read.parquet(s"$td/documents.parquet").count()
        val persistSec = time(
          graft.mm.Multimodal.persistPhashIndex(spark, td))
        val sig = graft.mm.Multimodal.phashStamp(spark, td).get
        val inc = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
          .localCheckpoint()
        val nInc = inc.count()
        inc.write.mode("append").parquet(s"$td/documents.parquet")
        val appendSec = time(
          graft.mm.Multimodal.appendPhashIndex(spark, td, inc, sig))
        val rebuildSec = time(
          graft.mm.Multimodal.persistPhashIndex(spark, td))
        graft.mm.Multimodal.dropPhashIndex(spark, td)
        f""""mm_phash":{"corpus_rows":$nCorpus,"increment_rows":$nInc,"persist_sec":$persistSec%.3f,"append_sec":$appendSec%.3f,"rebuild_sec":$rebuildSec%.3f}"""
      }

      // ---- ngram-occurrence index (t40/t41) -------------------------
      // token-scale rows, so this leg prices the repo's LARGEST index
      // relation: the rebuild re-splits + re-hashes the corpus, the
      // append touches the increment's tokens only
      val ngoJson = withTempDir("incb_ngo") { tmp =>
        val td = tmp.toString
        val docs = graft.lake.Tables.documents(spark, d)
        docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
          .write.parquet(s"$td/documents.parquet")
        val nCorpus = spark.read.parquet(s"$td/documents.parquet").count()
        val persistSec = time(
          graft.text.SubstringDedup.persistOccurrenceIndex(spark, td))
        val sig = graft.text.SubstringDedup.occurrenceStamp(spark, td).get
        val inc = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
          .localCheckpoint()
        val nInc = inc.count()
        inc.write.mode("append").parquet(s"$td/documents.parquet")
        val appendSec = time(
          graft.text.SubstringDedup.appendOccurrenceIndex(spark, td, inc, sig))
        val rebuildSec = time(
          graft.text.SubstringDedup.persistOccurrenceIndex(spark, td))
        graft.text.SubstringDedup.dropOccurrenceIndex(spark, td)
        f""""ngo":{"corpus_rows":$nCorpus,"increment_rows":$nInc,"persist_sec":$persistSec%.3f,"append_sec":$appendSec%.3f,"rebuild_sec":$rebuildSec%.3f}"""
      }

      // ---- dsir feature-counts table (t42/t43) ----------------------
      // the CHEAPEST IndexTables client: the persisted relation is
      // bucket-bounded (≤ 8192 rows) however large the corpus — the
      // append prices the increment's feature hashing alone, the
      // rebuild re-aggregates both corpus sides
      val dsirJson = withTempDir("incb_dsir") { tmp =>
        val td = tmp.toString
        val docs = graft.lake.Tables.documents(spark, d)
        docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
          .write.parquet(s"$td/documents.parquet")
        val nCorpus = spark.read.parquet(s"$td/documents.parquet").count()
        val persistSec = time(graft.text.Dsir.persistRatioTable(spark, td))
        val sig = graft.text.Dsir.ratioStamp(spark, td).get
        val inc = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
          .localCheckpoint()
        val nInc = inc.count()
        inc.write.mode("append").parquet(s"$td/documents.parquet")
        val appendSec = time(
          graft.text.Dsir.appendRatioTable(spark, td, inc, sig))
        val rebuildSec = time(graft.text.Dsir.persistRatioTable(spark, td))
        graft.text.Dsir.dropRatioTable(spark, td)
        f""""dsir":{"corpus_rows":$nCorpus,"increment_rows":$nInc,"persist_sec":$persistSec%.3f,"append_sec":$appendSec%.3f,"rebuild_sec":$rebuildSec%.3f}"""
      }

      // ---- embedding admission index -------------------------------
      val admJson = if (!new java.io.File(s"$d/embeddings.parquet").exists())
        """"admission":null"""
      else withTempDir("incb_adm") { tmp =>
        val p = s"$tmp/corpus.parquet"
        val e = spark.read.parquet(s"$d/embeddings.parquet")
        def normed(df: org.apache.spark.sql.DataFrame) =
          graft.sim.Similarity.withNorm(df.select("vec_id", "embedding"))
        e.filter(pmod(col("vec_id"), lit(100)) =!= 0)
          .select("vec_id", "embedding").write.parquet(p)
        val corpus = normed(spark.read.parquet(p))
        val familyN = corpus.count()
        val persistSec = time(graft.sim.Similarity
          .persistAdmissionIndexFor(spark, p, corpus, familyN))
        val sig = graft.sim.Similarity.admissionIndexStamp(spark, p).get
        val inc = normed(e.filter(pmod(col("vec_id"), lit(100)) === 0)
          .select("vec_id", "embedding")).localCheckpoint()
        val nInc = inc.count()
        inc.select("vec_id", "embedding").write.mode("append").parquet(p)
        val appendSec = time(graft.sim.Similarity
          .appendAdmissionIndex(spark, p, inc, familyN, sig))
        val rebuildSec = time(graft.sim.Similarity.persistAdmissionIndexFor(
          spark, p, normed(spark.read.parquet(p)), familyN))
        graft.lake.IndexTables.drop(spark, "adm", p)
        f""""admission":{"corpus_rows":$familyN,"increment_rows":$nInc,"persist_sec":$persistSec%.3f,"append_sec":$appendSec%.3f,"rebuild_sec":$rebuildSec%.3f}"""
      }

      // ---- co-order adjacency + g1 edges + warm LPA (lineitem) -----
      val adjJson = if (!new java.io.File(s"$d/lineitem.parquet").exists()) ""
      else withTempDir("incb_adj") { tmp =>
        import graft.queries.Graph
        val td = tmp.toString
        val li = spark.read.parquet(s"$d/lineitem.parquet")
        val ord = spark.read.parquet(s"$d/orders.parquet")
        // whole orders are the increment grain (co-order pairs are
        // order-local; g1 edges join lines to their own order)
        li.filter(pmod(col("l_orderkey"), lit(100)) =!= 0)
          .write.parquet(s"$td/lineitem.parquet")
        ord.filter(pmod(col("o_orderkey"), lit(100)) =!= 0)
          .write.parquet(s"$td/orders.parquet")
        def persistCoadj(): Unit = graft.lake.IndexTables.persist(spark,
          Graph.coOrderWeightedFrom(
            spark.read.parquet(s"$td/lineitem.parquet")),
          Graph.CoAdjPrefix, td, Seq("u"))
        def persistG1(): Unit = graft.lake.IndexTables.persist(spark,
          Graph.g1EdgeRelationFrom(
            spark.read.parquet(s"$td/lineitem.parquet"),
            spark.read.parquet(s"$td/orders.parquet")),
          Graph.G1Prefix, td, Seq("src"))
        val persistSec = time(persistCoadj())
        val persistG1Sec = time(persistG1())
        // memoize the pre-delta LPA history (the warm pass's input)
        val lpaBuildSec = time(Graph.lpaLabels(spark, td))
        val sig = Graph.adjacencyStamp(spark, td).get
        val sigG1 = Graph.g1Stamp(spark, td).get
        val sigLpa = Graph.lpaStamp(spark, td).get
        val delta = li.filter(pmod(col("l_orderkey"), lit(100)) === 0)
          .localCheckpoint()
        val deltaOrd = ord.filter(pmod(col("o_orderkey"), lit(100)) === 0)
          .localCheckpoint()
        val nDelta = delta.count()
        delta.write.mode("append").parquet(s"$td/lineitem.parquet")
        deltaOrd.write.mode("append").parquet(s"$td/orders.parquet")
        val appendSec = time(Graph
          .appendAdjacencyIncrement(spark, td, delta, sig))
        val appendG1Sec = time(Graph
          .appendG1Increment(spark, td, delta, deltaOrd, sigG1))
        // warm LPA rides the just-appended served adjacency; the full
        // comparator is the from-scratch propagation on the grown graph
        val lpaWarmSec = time(Graph
          .warmLpaAfterAppend(spark, td, delta, sigLpa))
        val lpaFullSec = time(Graph.labelPropagation(
          Graph.coOrderWeightedFrom(
              spark.read.parquet(s"$td/lineitem.parquet"))
            .filter(col("w") >= Graph.MinCoOrders), 5))
        val rebuildSec = time(persistCoadj())
        val rebuildG1Sec = time(persistG1())
        // retraction leg: take the just-appended delta back OUT as a
        // negated increment (corpus shrinks by the same orders). The
        // honest comparator is the rebuild — deleteKeys cannot express
        // an order-grain retraction on the adjacency (its rows are not
        // keyed by order), which is exactly why the negative-delta
        // path exists.
        val sigR = Graph.adjacencyStamp(spark, td).get
        spark.read.parquet(s"$td/lineitem.parquet")
          .filter(pmod(col("l_orderkey"), lit(100)) =!= 0)
          .localCheckpoint()
          .write.mode("overwrite").parquet(s"$td/lineitem.parquet")
        val retractSec = time(Graph
          .retractAdjacencyOrders(spark, td, delta, sigR))
        Graph.dropAdjacency(spark, td)
        f""","adjacency":{"delta_lineitem_rows":$nDelta,"persist_sec":$persistSec%.3f,"append_sec":$appendSec%.3f,"rebuild_sec":$rebuildSec%.3f,"retract_sec":$retractSec%.3f},"g1_edges":{"persist_sec":$persistG1Sec%.3f,"append_sec":$appendG1Sec%.3f,"rebuild_sec":$rebuildG1Sec%.3f},"lpa":{"build_sec":$lpaBuildSec%.3f,"warm_sec":$lpaWarmSec%.3f,"full_sec":$lpaFullSec%.3f}"""
      }

      s""""$d":{$bandJson,$mmJson,$ngoJson,$dsirJson,$admJson$adjJson}"""
    }
    println(rows.mkString(
      "{\"metric\":\"index_increment\",\"tiers\":{", ",", "}}"))
    spark.stop()
  }
}
