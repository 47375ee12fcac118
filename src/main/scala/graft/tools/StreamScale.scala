package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Scale rows for the STREAMING family (r9 verdict #7): st1/st3 had
  * bench-tier timings and robustness specs but no between-tier scale
  * record. This runs the actual streaming twins — `readStream` over the
  * scaled events tier → watermarked tumbling/session agg → noop sink,
  * `Trigger.AvailableNow` (one data batch + the final watermark-advance
  * batch, the production catch-up shape) — under ScaleBench's
  * methodology (interleaved passes, min-of-N, shuffle-byte tally) and
  * reports exp/bexp per query.
  *
  * The input goes through [[graft.lake.Tables.normalizeEventsTs]], the
  * same ts-encoding dispatch the batch path uses, so a tier whose
  * parquet carries NANOS-as-long / NTZ / LTZ measures the same plan the
  * oracle-gated batch form runs. Checkpoints are fresh per run (a
  * reused checkpoint would replay nothing and measure an empty batch).
  *
  *   sbt "runMain graft.tools.StreamScale /tmp/graft_sf1 /tmp/graft_sf10 10"
  */
object StreamScale {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val scaled = if (args.length > 1) args(1) else "/tmp/graft_sf10"
    val factor = if (args.length > 2) args(2).toInt else 10
    val passes = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "3").toInt
    val spark = graft.SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tally = new graft.Bench.Tally
    spark.sparkContext.addSparkListener(tally)

    def stream(name: String, dir: String): DataFrame = {
      val path = s"$dir/events.parquet"
      val schema = spark.read.parquet(path).schema
      val ev = graft.lake.Tables.normalizeEventsTs(
        spark.readStream.schema(schema).parquet(path))
      import org.apache.spark.sql.functions.col
      name match {
        case "st1_tumbling_agg" =>
          graft.streaming.Streams.tumblingAgg(ev, "ts", "value", "1 hour")
        case "st3_session_agg" =>
          graft.streaming.Streams.sessionAgg(ev, "ts", "user_id", "1 hour")
        case "st4_hop_agg" =>
          // state law sits between st1 (scale-constant window count) and
          // st3 (linear per-key session state): windows-per-event ×
          // st1's state — size/slide = 2 open windows per event here
          graft.streaming.Streams.hopAgg(ev, "ts", "value",
            size = "2 hours", slide = "1 hour")
        case "sj1_interval_join" =>
          // stream-stream attribution shape: purchases within 1 h after
          // a click by the same user; state bounded by the interval +
          // lateness on BOTH sides (the remaining unmeasured state law)
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          val buys = ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
              col("value").as("amount"))
          graft.streaming.Streams.intervalJoin(clicks, buys,
            "c_user", "b_user", "c_ts", "b_ts",
            beforeSec = 0, afterSec = 3600, lateness = "2 minutes")
      }
    }

    def runOnce(name: String, dir: String): (Double, Long) = {
      graft.Bench.quiesce(spark)
      val ckpt = java.nio.file.Files.createTempDirectory("ss_ckpt")
      val bytes0 = tally.counts.shuffleBytes
      val t0 = System.nanoTime()
      val q = stream(name, dir).writeStream
        .format("noop").outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Bench.quiesce(spark)
      // drop the checkpoint's state/offset tree NOW (ADVICE r10: passes
      // × queries × tiers of leaked large-tier state files can fill
      // /tmp — the same disk-exhaustion mode the ScaleBench quiesce fix
      // closed)
      try {
        val walk = java.nio.file.Files.walk(ckpt)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: Throwable => () }
      (sec, tally.counts.shuffleBytes - bytes0)
    }

    // JIT warmup on the base tier (discarded): the streaming file
    // source needs a DIRECTORY, which the driver-generated single-file
    // sf0.01 tier is not — ScaleUp tiers are directory-style
    val all = Seq("st1_tumbling_agg", "st3_session_agg",
      "st4_hop_agg", "sj1_interval_join")
    // comma-separated subset filter, so an added query can be measured
    // without re-paying the already-recorded tiers
    val names = sys.env.get("SPARK_GRAFT_STREAM_QUERIES") match {
      case Some(qs) => all.filter(qs.split(",").map(_.trim).toSet)
      case None => all
    }
    names.foreach(n => runOnce(n, base))

    val results = names.map { n =>
      val tb = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      val ts = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      (1 to passes).foreach { _ =>
        tb += runOnce(n, base)
        ts += runOnce(n, scaled)
      }
      val (b, s) = (tb.map(_._1).min, ts.map(_._1).min)
      val (bb, sb) = (tb.map(_._2).min, ts.map(_._2).min)
      val e = math.log(s / b) / math.log(factor.toDouble)
      val be = math.log(math.max(1L, sb).toDouble /
        math.max(1L, bb).toDouble) / math.log(factor.toDouble)
      f""""$n":{"base":$b%.3f,"scaled":$s%.3f,"exp":$e%.3f,"base_shuffle_mb":${bb / 1e6}%.1f,"scaled_shuffle_mb":${sb / 1e6}%.1f,"bexp":$be%.3f}"""
    }
    val line =
      s"""{"metric":"stream_scale_exponent","trigger":"AvailableNow","factor":$factor,"passes":$passes,"base":"$base","scaled":"$scaled","queries":${results.mkString("{", ",", "}")}}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "STREAM_SCALE.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
