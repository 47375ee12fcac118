package graft.tools

import org.apache.spark.sql.functions._

/** The compaction-policy curve (r13 verdict #5): how does probe cost
  * degrade as appendIncrement's per-append files accumulate in the
  * bucket layout, and what does paying the debt cost? This drives the
  * `IndexTables.CompactionFilesPerBucket` threshold that
  * `appendIncrement`'s auto-maintain fires on.
  *
  * Protocol: persist the band index on ~60% of a tier's documents,
  * then land `appends` ~3% increments WITHOUT auto-maintenance
  * (autoMaintain = false — the curve must see the raw debt), and
  * after each append measure
  *   - files_per_bucket  — the debt gauge maintain() reads,
  *   - probe_sec         — a fixed-increment admission probe against
  *                         the served table (the production read), and
  *   - scan_sec          — a full scan+count of the table.
  * Finally: compact once (timed) and re-probe — the recovery.
  *
  *   sbt "runMain graft.tools.CompactionBench /tmp/graft_sf1 12"
  *
  * Output: one JSON line (commit as COMPACT_CURVE_R*.json).
  */
object CompactionBench {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val appends = if (args.length > 1) args(1).toInt else 12
    val spark = graft.SparkEntry.localSession()
      .config("spark.sql.warehouse.dir", "/tmp/graft_compact_wh")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=/tmp/graft_compact_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val tmp = java.nio.file.Files.createTempDirectory("compact_curve")
    val p = s"$tmp/corpus.parquet"
    val docs = graft.lake.Tables.documents(spark, d).localCheckpoint()
    // deterministic slicing on doc_id: slots [appends..28] are the base
    // corpus, slot i < appends is append #i, and slot 29 is the FIXED
    // probe increment — held out of BOTH the base write and the append
    // range, so probe work is constant across the whole curve (ADVICE
    // r14: the old (appends+17)%30 slot was part of the base for the
    // default appends=12 and landed mid-run for appends in 13..29,
    // biasing the measured curve).
    require(appends < 29, "appends must be < 29: slot 29 is the held-out probe")
    val slot = pmod(col("doc_id"), lit(30))
    docs.filter(slot >= appends && slot =!= 29).write.parquet(p)
    val probe = docs.filter(slot === 29).localCheckpoint()

    graft.text.Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p))

    def gauge(): (Double, Double, Double) = {
      val fpb = graft.lake.IndexTables.filesPerBucket(spark, "band", p).get
      val served = graft.text.Dedup.servedBandIndex(spark, p).get
      val probeSec = time(graft.text.Dedup.admitIncrement(
        spark.read.parquet(p), probe, corpusBands = Some(served)).count())
      val scanSec = time(served.count())
      (fpb, probeSec, scanSec)
    }

    val steps = scala.collection.mutable.ArrayBuffer.empty[String]
    val g0 = gauge()
    steps += f"""{"append":0,"files_per_bucket":${g0._1}%.2f,"probe_sec":${g0._2}%.3f,"scan_sec":${g0._3}%.3f}"""
    (0 until appends).foreach { i =>
      val sig = graft.text.Dedup.bandIndexStamp(spark, p).get
      val inc = docs.filter(slot === i).localCheckpoint()
      inc.write.mode("append").parquet(p)
      // raw debt: bypass auto-maintain — this tool IS the measurement
      // the threshold comes from
      graft.lake.IndexTables.appendIncrement(spark,
        graft.text.Dedup.bandIndex(inc), "band", p, sig,
        autoMaintain = false)
      val g = gauge()
      steps += f"""{"append":${i + 1},"files_per_bucket":${g._1}%.2f,"probe_sec":${g._2}%.3f,"scan_sec":${g._3}%.3f}"""
    }
    val compactSec = time(graft.lake.IndexTables.compact(spark, "band", p))
    val ga = gauge()
    graft.lake.IndexTables.drop(spark, "band", p)
    println(s"""{"metric":"compaction_curve","tier":"$d","appends":$appends,"steps":[${steps.mkString(",")}],"compact_sec":$compactSec,"post_compact_files_per_bucket":${ga._1},"post_compact_probe_sec":${ga._2},"post_compact_scan_sec":${ga._3}}""")
    spark.stop()
  }
}
