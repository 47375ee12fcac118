package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every `SparkEntry.queries` entry (or the ones
  * named on the command line) on SPARK_GRAFT_SF_DIR and records, per
  * query and timed pass, where the time went.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 java ... graft.Bench [q1 q2 ...]
  *
  * Run it from a scratch working directory: the record lands there.
  *
  * Methodology:
  *   - the action is a `noop`-format write, not `count()`: count() lets
  *     Catalyst prune every column a query computes but does not
  *     aggregate, while the noop sink materializes every output row.
  *   - one warm-up call per query at sf0.01 first. sf0.001 does not run
  *     the md5/LSH hot loops long enough for C2 to compile them.
  *   - [[Passes]] timed passes. Pass 1 pays the session-memo builds at
  *     this tier (cold); later passes hit them (warm). `queries` carries
  *     each query's minimum wall seconds, -1 when any pass failed.
  *   - per pass: wall seconds, process CPU seconds (every JVM thread,
  *     the figure perfbench gates on), generated classes compiled
  *     ([[GraftExtensions]] sizes the cache so warm passes compile
  *     nothing), and the engine counts of [[Tally]]: jobs, completed
  *     stages, task seconds and shuffle MB. The listener bus is drained
  *     between queries, outside the timers.
  *   - the served column: the persisted index tables are built once
  *     (`graph_persist_sec`), the families they serve are re-timed by the
  *     same timed-pass loop (`graph_served`, `served_per_query`), and the
  *     tables are dropped.
  *
  * Writes the full record to BENCH_SELF.json in the working directory and
  * prints one summary line on stdout.
  */
object Bench {
  val Passes = 3

  /** Engine counts accumulated over completed jobs and stages. */
  final case class Counts(jobs: Long, stages: Long, taskMs: Long,
      shuffleRead: Long, shuffleWrite: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      taskMs - o.taskMs, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite)
    def shuffleBytes: Long = shuffleRead + shuffleWrite
  }

  /** The listener behind [[Counts]], shared by Bench, ScaleBench and
    * StreamScale. Spark delivers events asynchronously, so read it after
    * [[quiesce]].
    */
  final class Tally extends SparkListener {
    private val jobs, stages, taskMs, read, write = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def counts: Counts =
      Counts(jobs.get, stages.get, taskMs.get, read.get, write.get)
  }

  /** Wait until no job is active, then give the listener bus a short
    * drain window; bounds the event bleed between measured runs.
    */
  def quiesce(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    while (tracker.getActiveJobIds().nonEmpty) Thread.sleep(20)
    // release prior runs' shuffle/checkpoint files NOW (outside any
    // timer): the ContextCleaner deletes them only when their
    // dependencies get GC'd, and a large measurement heap can go many
    // runs between collections; at the 100x g2 tier the accumulated
    // spill of 8 interleaved runs filled the disk before any single
    // run's working set would have.
    System.gc()
    Thread.sleep(150)
  }

  /** Generated classes Spark has compiled in this JVM so far. */
  private[graft] def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** One timed call of one query. `wallS` is -1 when the call threw. */
  final case class Sample(wallS: Double, cpuS: Double, compiles: Long,
      eng: Counts)

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def runNoop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Times `names` on `dir` for `passes` passes, each pass calling every
    * query once in order. `tally` must be registered on `spark`.
    */
  def timedPasses(spark: SparkSession, tally: Tally, names: Seq[String],
      dir: String, passes: Int): Map[String, Seq[Sample]] = {
    quiesce(spark)
    val samples = (1 to passes).flatMap { _ =>
      names.map { name =>
        val e0 = tally.counts
        val c0 = compileCount()
        val cpu0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val ok =
          try { runNoop(SparkEntry.queries(name)(spark, dir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (os.getProcessCpuTime - cpu0) / 1e9
        val compiles = compileCount() - c0
        quiesce(spark)
        name -> Sample(if (ok) wall else -1.0, cpu, compiles,
          tally.counts - e0)
      }
    }
    samples.groupMap(_._1)(_._2)
  }

  /** Minimum wall seconds, or -1 when any sample failed. */
  private[graft] def minWall(ss: Seq[Sample]): Double =
    if (ss.isEmpty || ss.exists(_.wallS < 0)) -1.0 else ss.map(_.wallS).min

  /** One query's per-pass fields, each an array in pass order. */
  private[graft] def sampleJson(ss: Seq[Sample]): String = {
    def arr(f: Sample => String) = ss.map(f).mkString("[", ",", "]")
    def mb(b: Long) = f"${b / 1e6}%.3f"
    Seq(
      "wall_s" -> arr(s => f"${s.wallS}%.3f"),
      "cpu_s" -> arr(s => f"${s.cpuS}%.3f"),
      "codegen_compiles" -> arr(_.compiles.toString),
      "jobs" -> arr(_.eng.jobs.toString),
      "stages" -> arr(_.eng.stages.toString),
      "task_s" -> arr(s => f"${s.eng.taskMs / 1e3}%.3f"),
      "shuffle_read_mb" -> arr(s => mb(s.eng.shuffleRead)),
      "shuffle_write_mb" -> arr(s => mb(s.eng.shuffleWrite))
    ).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private def obj[A](m: Map[String, A])(f: A => String): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")

  /** The BENCH_SELF.json record and the stdout summary line. */
  private[graft] def render(sfDir: String, main: Map[String, Seq[Sample]],
      persistSec: Double,
      served: Map[String, Seq[Sample]]): (String, String) = {
    val mins = main.map { case (n, ss) => n -> minWall(ss) }
    val total = mins.values.filter(_ >= 0).sum
    val cpuTotal = main.values.flatten.map(_.cpuS).sum
    val servedMins = served.map { case (n, ss) => n -> minWall(ss) }
    val errors = (main ++ served.map { case (n, ss) => s"$n@served" -> ss })
      .collect { case (n, ss) if ss.exists(_.wallS < 0) => "\"" + n + "\"" }
      .toSeq.sorted.mkString("[", ",", "]")
    val head = f""""metric":"total","value":$total%.3f,"unit":"sec","passes":$Passes,"cpu_s":$cpuTotal%.3f"""
    val record = s"""{$head,"queries":${obj(mins)(v => f"$v%.3f")},"per_query":${obj(main)(sampleJson)},"graph_persist_sec":${f"$persistSec%.3f"},"graph_served":${obj(servedMins)(v => f"$v%.3f")},"served_per_query":${obj(served)(sampleJson)},"errors":$errors,"sf":"$sfDir"}"""
    val summary = f"""{$head,"n_queries":${mins.size},"graph_persist_sec":$persistSec%.3f,"graph_served_total":${servedMins.values.filter(_ >= 0).sum}%.3f,"graph_served_n":${servedMins.size},"errors":$errors,"record":"BENCH_SELF.json","sf":"$sfDir"}"""
    (record, summary)
  }

  /** The families the persisted index tables serve. */
  private def servedNames: Set[String] =
    (graft.queries.Graph.queries ++ graft.text.Winnowing.queries ++
      graft.text.SubstringDedup.queries ++ graft.text.Dsir.queries ++
      graft.mm.Multimodal.queries).keySet

  private def dropServed(spark: SparkSession, dir: String): Unit =
    Seq[(SparkSession, String) => Unit](
      graft.queries.Graph.dropAdjacency,
      graft.text.Winnowing.dropFingerprintIndex,
      graft.text.SubstringDedup.dropOccurrenceIndex,
      graft.text.Dsir.dropRatioTable,
      graft.text.TextAnalysis.dropBpeStream,
      graft.mm.Multimodal.dropPhashIndex
    ).foreach(drop => try drop(spark, dir) catch { case _: Throwable => () })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names =
      if (args.nonEmpty) args.toSeq.distinct else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)

    val warmupDir = "/root/testdata/sf0.01"
    if (new java.io.File(warmupDir).exists())
      names.foreach { n =>
        try runNoop(SparkEntry.queries(n)(spark, warmupDir))
        catch { case _: Throwable => () }
      }
    val main = timedPasses(spark, tally, names, sfDir, Passes)

    // served column: a failure here leaves it empty, never the record
    val servedFamily = names.filter(servedNames)
    val (persistSec, served) =
      if (servedFamily.isEmpty) (-1.0, Map.empty[String, Seq[Sample]])
      else try {
        dropServed(spark, sfDir)
        val t = System.nanoTime()
        graft.queries.Graph.persistAdjacency(spark, sfDir)
        graft.text.Winnowing.persistFingerprintIndex(spark, sfDir)
        graft.text.SubstringDedup.persistOccurrenceIndex(spark, sfDir)
        graft.text.Dsir.persistRatioTable(spark, sfDir)
        graft.text.TextAnalysis.persistBpeStream(spark, sfDir)
        graft.mm.Multimodal.persistPhashIndex(spark, sfDir)
        val p = (System.nanoTime() - t) / 1e9
        (p, timedPasses(spark, tally, servedFamily, sfDir, Passes))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] served column failed: ${e.getMessage}")
        (-1.0, Map.empty[String, Seq[Sample]])
      } finally dropServed(spark, sfDir)

    val (record, summary) = render(sfDir, main, persistSec, served)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SELF.json"),
      (record + "\n").getBytes("UTF-8"))
    println(summary)
    spark.stop()
  }
}
