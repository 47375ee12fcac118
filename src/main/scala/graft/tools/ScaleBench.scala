package graft.tools

/** Scale validation for the heavy families (r6 verdict #1): times each
  * heavy query at the base tier (sf0.1) and the [[ScaleUp]]-generated
  * scaled tier (sf1 = 10×) under Bench's methodology (sf0.01 warmup,
  * min of N passes, noop sink), and reports the per-query SCALING
  * EXPONENT  e = log(t_scaled / t_base) / log(factor):
  * e ≈ 1 is linear, e ≈ 2 would be a pairwise blow-up. The r6 gate is
  * e ≲ 1.3 per query (with an absolute-seconds floor — a 0.2 s query
  * doubling is timer noise, not a scaling law).
  *
  * Besides wall time it tallies SHUFFLE BYTES (read+written) per run
  * via [[graft.Bench.Tally]] and reports their exponent too: bytes are a
  * pure function of the plan and the data — immune to the co-tenant
  * timing drift that has flagged every round's bench — so `bexp` is
  * the noise-free scaling law and `exp` the observed cost. A
  * candidate-volume blow-up shows in `bexp` even when a fast machine
  * hides it in seconds.
  *
  *   sbt "runMain graft.tools.ScaleBench /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *
  * Results land in SCALE_SELF.json (full record; stdout may truncate).
  */
object ScaleBench {

  /** The expensive families named by the r6 verdict. */
  val heavy: Seq[String] = Seq(
    "d2_minhash_lsh", "d5_components", "d6_transitive_dedup",
    "d9_substring_dedup", "d10_allpairs_jaccard", "d11_quality_survivor",
    "d12_containment", "d13_incremental_admit",
    "s2_ann_lsh", "s3_embedding_neardup", "s6_semdedup", "s9_pq_topk",
    "t18_leakage_split", "pipe_docs_prep", "f_edit_distance",
    "g1_pagerank", "t29_winnowing", "s12_incremental_admit",
    "s13_ivfpq_topk")

  /** The relational/event families (r8 verdict #1): the
    * group-by-over-growing-fact shape of the reference's own workload.
    * Scaled tiers for these need ScaleUp WITHOUT a table subset (the
    * relational tables + the r9 events scaling). Pass via
    * SPARK_GRAFT_QUERIES; results merge into the SCALE artifacts.
    */
  val relational: Seq[String] = Seq(
    "g1_pagerank", "w2_running_sum", "w6_range_rolling", "j4_star_join",
    "j8_bloom_join", "o7_latest_per_key", "l1_scd2", "l2_cdc_apply",
    "l3_incremental_agg", "l4_incremental_distinct",
    "l5_incremental_quantile", "l6_overlap_matrix")

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val scaled = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val passes = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "3").toInt
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(heavy)
    // SPARK_GRAFT_NO_BROADCAST=1 disables broadcast joins on BOTH
    // planner paths (static + AQE): separates a broadcast→shuffle
    // THRESHOLD TRANSITION (bytes jump once when a build side outgrows
    // the limit, then scale linearly) from a genuine superlinear law —
    // with broadcasts off, both tiers pay the shuffle form and the
    // exponent reads the law directly.
    val noBcast = sys.env.get("SPARK_GRAFT_NO_BROADCAST").contains("1")
    val builder = graft.SparkEntry.localSession()
      .config("spark.cleaner.periodicGC.interval", "2min") // see Bench.quiesce
    if (noBcast) {
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
      builder.config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tally = new graft.Bench.Tally
    spark.sparkContext.addSparkListener(tally)

    // returns (seconds, shuffle bytes read+written by this run)
    def runNoop(name: String, dir: String): (Double, Long) = {
      graft.Bench.quiesce(spark)
      val bytes0 = tally.counts.shuffleBytes
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Bench.quiesce(spark)
      (sec, tally.counts.shuffleBytes - bytes0)
    }

    // JIT/codegen warmup on the small tier, same as Bench
    names.foreach { n =>
      try runNoop(n, "/root/testdata/sf0.01")
      catch { case _: Throwable => () }
    }

    // interleave tiers pass by pass (base, scaled, base, scaled, ...) so
    // a co-tenant stall can't land one-sidedly on a single tier
    val results = names.map { n =>
      val tb = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      val ts = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      (1 to passes).foreach { _ =>
        tb += runNoop(n, base)
        ts += runNoop(n, scaled)
      }
      val (b, s) = (tb.map(_._1).min, ts.map(_._1).min)
      // bytes are plan-deterministic; min discards any listener bleed
      val (bb, sb) = (tb.map(_._2).min, ts.map(_._2).min)
      val e = math.log(s / b) / math.log(factor.toDouble)
      val be = math.log(math.max(1L, sb).toDouble /
        math.max(1L, bb).toDouble) / math.log(factor.toDouble)
      (n, b, s, e, bb, sb, be)
    }
    val qs = results.map { case (n, b, s, e, bb, sb, be) =>
      f""""$n":{"base":$b%.3f,"scaled":$s%.3f,"exp":$e%.3f,"base_shuffle_mb":${bb / 1e6}%.1f,"scaled_shuffle_mb":${sb / 1e6}%.1f,"bexp":$be%.3f}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scale_exponent","factor":$factor,"passes":$passes,"base":"$base","scaled":"$scaled","queries":$qs}"""
    println(line)
    // SPARK_GRAFT_SCALE_OUT: artifact path override, so a second tier's
    // run (e.g. the 100x record) doesn't clobber the 10x one
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_SELF.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
