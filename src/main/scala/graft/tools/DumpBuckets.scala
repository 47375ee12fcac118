package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool for the cross-engine LSH-ladder check: dumps the Spark-side
  * bucket index (vec_id, tbl, bk) for a corpus dir as parquet, plus the
  * DuckDB twin's SQL, so `scripts/check_ladder.py` can assert exact
  * bucket-set equality between engines AT A TIER WHERE THE SMOOTHED
  * LADDER IS ACTIVE (extraTablesFor > 0 — e.g. the 10× tier, k = 10 →
  * extra = 2). The oracle-gated tiers all have extra = 0, so without
  * this check the smoothing path would only ever be exercised on one
  * engine (ADVICE r8).
  *
  *   sbt "runMain graft.tools.DumpBuckets /tmp/graft_sf1 /tmp/ladder_check"
  *   python3 scripts/check_ladder.py /tmp/graft_sf1 /tmp/ladder_check
  */
object DumpBuckets {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val out = if (args.length > 1) args(1) else "/tmp/ladder_check"
    val spark = graft.SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sim.Similarity.bucketTable(spark, dir)
      .write.mode("overwrite").parquet(s"$out/spark_buckets.parquet")
    val duckSql =
      s"""WITH ${graft.sim.Similarity.bucketTableDuck}
         |SELECT vec_id, tbl, bk FROM b""".stripMargin
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "duck_buckets.sql"),
      duckSql.getBytes("UTF-8"))
    println(s"""{"out":"$out"}""")
    spark.stop()
  }
}
