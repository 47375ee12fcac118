package graft.tools

import org.apache.spark.sql.functions._

/** Prices the span-screen side-store LIFECYCLE (r17 verdict #1 — the
  * r17 additions shipped oracle-gated but with no committed cost
  * measurement): per-micro-batch screen cost as `batch_id` partitions
  * accumulate, the cost of one [[graft.streaming.Streams.compactBatchIdStore]]
  * fold, the per-batch cost AFTER the fold, and the scan saving
  * [[graft.streaming.Streams.promoteSpanScreenStore]] buys once a
  * corpus rebuild absorbs the admitted batches. The correctness side
  * (screened output unchanged across fold and promote) is
  * IncrementalDedupSpec's pin; this tool records what the lifecycle
  * costs and saves, per tier.
  *
  * Harness: the tier's corpus serves its persisted `ngo` occurrence
  * table (the 100 TB default); the feed is the corpus with token order
  * REVERSED per doc and shifted doc_ids — a reversed token sequence
  * shares no k-gram (k ≥ 3) with its original, so batches are ADMITTED
  * and the side store grows one token-scale partition per batch,
  * exactly the growth the lifecycle bounds. Promotion is applied
  * between micro-batches purely to price the read-side saving; the
  * production contract (corpus rebuilt first, stream-restart boundary)
  * is the spec's business, not this harness's.
  *
  *   sbt "runMain graft.tools.SpanScreenBench /root/testdata/sf0.1 /tmp/graft_sf1"
  *
  * Output: one JSON line (commit as SPANSCREEN_LIFECYCLE_R*.json).
  */
object SpanScreenBench {

  private val WarmBatches = 12 // past SpanScreenMaxParts=8: real debt
  private val ProbeBatches = 3

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")
    val spark = graft.SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams

    def time(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val tiers = dirs.filter(d => new java.io.File(d).exists()).map { d =>
      val base = java.nio.file.Files
        .createTempDirectory("spanscreen_bench").toString
      val flagged = s"$base/flagged"
      val persistSec = time(
        graft.text.SubstringDedup.persistOccurrenceIndex(spark, d))
      try {
        val feed = graft.lake.Tables.documents(spark, d)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat_ws(" ", reverse(split(col("text"), " "))).as("text"),
            pmod(col("doc_id"), lit((WarmBatches + 2 * ProbeBatches).toLong))
              .as("chunk"))
          .localCheckpoint()
        val chunks = (0 until WarmBatches + 2 * ProbeBatches).map(i =>
          feed.filter(col("chunk") === i).select("doc_id", "text")
            .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = Streams.spanScreenStream(
          ms.toDF().toDF("doc_id", "text"), d, flagged, s"$base/ckpt")
          .start()
        try {
          var next = 0
          def runBatches(n: Int): Seq[Double] = (1 to n).map { _ =>
            val c = chunks(next); next += 1
            time { ms.addData(c); q.processAllAvailable() }
          }
          val warm = runBatches(WarmBatches)
          require(q.exception.isEmpty, s"stream died: ${q.exception}")
          val partsBefore = Streams.spanScreenStoreParts(spark, flagged).size
          // the maintenance window IS the between-batches boundary —
          // the query is idle here (processAllAvailable returned)
          val compactSec = time {
            require(Streams.compactSpanScreenStore(spark, flagged),
              "compaction did not run")
          }
          val partsAfter = Streams.spanScreenStoreParts(spark, flagged).size
          val afterCompact = runBatches(ProbeBatches)
          // promotion: drop every partition a corpus rebuild would have
          // absorbed (all but the newest) and price the probe after it
          val coveredUpTo = Streams
            .spanScreenStoreParts(spark, flagged).dropRight(1).max
          val dropped = Streams
            .promoteSpanScreenStore(spark, flagged, coveredUpTo)
          val afterPromote = runBatches(ProbeBatches)
          require(q.exception.isEmpty, s"stream died late: ${q.exception}")
          def arr(xs: Seq[Double]) =
            xs.map(x => f"$x%.3f").mkString("[", ",", "]")
          f""""$d":{"persist_ngo_sec":$persistSec%.3f,"warm_batches":${arr(warm)},"parts_before_compact":$partsBefore,"compact_sec":$compactSec%.3f,"parts_after_compact":$partsAfter,"batches_after_compact":${arr(afterCompact)},"promote_dropped_parts":$dropped,"batches_after_promote":${arr(afterPromote)}}"""
        } finally q.stop()
      } finally {
        graft.text.SubstringDedup.dropOccurrenceIndex(spark, d)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(base))
          .sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    val line = tiers.mkString(
      "{\"metric\":\"spanscreen_lifecycle\",\"tiers\":{", ",", "}}")
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_SPAN_OUT",
      "SPANSCREEN_LIFECYCLE_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
