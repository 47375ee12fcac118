package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for `scripts/check.py`'s DuckDB compare.
  *
  * Optional third arg: comma-separated query names — dump only that
  * subset (and only its oracle entries). Used by the sf1 spot-oracle
  * and for fast single-query iteration.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val queries = only.map(o => SparkEntry.queries.view.filterKeys(o).toMap)
      .getOrElse(SparkEntry.queries)
    val oracleSql = only.map(o => SparkEntry.oracleSql.view.filterKeys(o).toMap)
      .getOrElse(SparkEntry.oracleSql)
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Wipe any previous dump: a query that fails this run must NOT
    // leave a stale-but-plausible parquet behind for the compare step.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
