package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One workload in one JVM:
  *   Main --workload W --data DIR --seed N --seconds S --trace 0|1
  *        [--dashboard Q1,Q2,... --families F1,F2,...] --out FILE
  * DIR holds the inputs `gen.py` made and is the run's scratch space.
  * The JSON written to FILE carries the timings, the engine counts and
  * the outputs `run.py` checks.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    if (o("workload") == "oracles") {
      Files.writeString(Paths.get(o("out")), Json(graft.SparkEntry.oracleSql))
      return
    }
    val dir = o("data")
    val rec = new Recorder(o("trace") == "1")
    val spark = session(dir)
    rec.attachContext(spark); rec.attach(spark)
    val res = try o("workload") match {
      case "analyst_session" => Workloads.analystSession(spark, rec, dir,
        o("dashboard").split(",").toSeq, o("families").split(",").toSeq,
        o("seed").toLong, o("seconds").toDouble)
      case "lake_etl" => Workloads.lakeEtl(spark, rec, dir, o("seconds").toDouble)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    val out = res ++ (if (rec.trace) Map("spans" -> rec.spansJson) else Map())
    Files.writeString(Paths.get(o("out")), Json(out))
  }

  /** local[N], N = min(4, cores); fixed partitions; every file it writes
    * stays under the run's own directory.
    */
  def session(dir: String): SparkSession = {
    val n = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
