package graft.tools
import org.apache.spark.sql.SparkSession

/** s3 residual adjudication (r10, verdict #1): is the fused
  * embedding-near-dup pipeline's byte residual (bexp 1.31 at 100×)
  * OUTPUT-bounded? Prints, per tier, the grain counts of the shipped
  * pipeline ([[graft.sim.Similarity.s3DiagCounts]]): in-bucket
  * collisions, threshold survivors (= the only pair-grain exchange's
  * input), and distinct output pairs. The r9 d12 method
  * (D12_DIAG_R9.json): if the survivor relation grows at ≥ the byte
  * exponent, the residual is the answer set's own growth, not filter
  * degradation.
  *
  *   sbt "runMain graft.tools.S3Diag /root/testdata/sf0.1 /tmp/graft_sf1 /tmp/graft_sf10"
  */
object S3Diag {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { dir =>
      val out = graft.sim.Similarity.s3DiagCounts(spark, dir)
      println(s"""{"dir":"$dir",$out}""")
    }
    spark.stop()
  }
}
